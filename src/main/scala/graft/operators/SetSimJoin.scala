package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Prefix-filtered set-similarity self-join (PPJoin-style, Xiao et al.,
  * "Efficient Similarity Joins for Near Duplicate Detection", WWW 2008 —
  * public literature): find all document pairs whose word-bigram shingle
  * sets have Jaccard >= tau WITHOUT the all-pairs join and WITHOUT the
  * df-cap approximation `ngramJaccardPairs` accepts.
  *
  * The filter: order every document's shingles by a single global total
  * order (df asc, shingle asc — rarest first), keep only the first
  * `|x| - ceil(tau*|x|) + 1` as the document's PREFIX. The PPJoin prefix
  * lemma guarantees any pair with J >= tau shares at least one prefix
  * shingle, so the candidate set (pairs sharing a prefix shingle) has no
  * false negatives; an exact verification join then computes the true
  * overlap for candidates only.
  *
  * Determinism: the survival test is pure integer arithmetic — for
  * tau = 1/2, J >= tau iff 3*overlap >= |x| + |y| — so no float compare
  * ever decides membership; the reported jaccard is one rounded division
  * of exact integers.
  *
  * Scale: three bounded exchanges. (1) shingle df — vocabulary-bounded
  * aggregate; (2) the prefix self-join touches only prefix shingles
  * (rarest-first ordering makes hot shingles land in almost no prefix,
  * the opposite of the hot-shingle blowup a plain shingle equi-join
  * suffers); (3) verification joins shingle sets of CANDIDATE pairs
  * only — cost proportional to candidates, not n^2. No broadcast of
  * anything data-sized, no driver state. This is the exact-answer scale
  * path next to MinHashLsh's approximate one (reference corpus analogue:
  * `/root/reference/main/pg-*.txt` near-dup detection).
  */
object SetSimJoin {

  import TextQueries.tokens

  /** Word-bigram shingle set per doc: (doc_id, s) distinct rows. */
  private def shingles(docs: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    graft.Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), size(col("ts")) - 1),
            i => concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1)))))
          .as("s"))
  }

  /** All doc pairs with word-bigram-shingle Jaccard >= 1/2, found via
    * the prefix filter and verified exactly. tau is fixed at 1/2 so the
    * verify compare stays integer (3*o >= n1+n2).
    */
  def qSetsimPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(Tables.documents(spark, sfDir))

    // Global total order: (df asc, shingle asc). The order key is the
    // (df, s) pair itself — no global rank assignment, so no
    // single-partition window at any scale.
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))

    // Per doc: sort shingles rarest-first, keep the tau=1/2 prefix
    // |x| - ceil(|x|/2) + 1 = floor(|x|/2) + 1. Pinned: three
    // consumers (both prefix explodes and the verification arrays).
    val ordered = sh.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("sorted"),
        count(lit(1)).as("n"))
      .localCheckpoint()
    def prefix(len: Column) = ordered
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("sorted"), lit(1), len.cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("pos"),
        col("col.s").as("s"))
    // ASYMMETRIC prefixes (the PPJoin index/probe split): the smaller
    // set of a qualifying pair has overlap o >= 2/3·|small| (because
    // o >= (|s|+|l|)/3 and |l| >= |s|), so its first common shingle
    // sits within the first floor(|s|/3)+1 — a SHORTER index prefix.
    // The larger side still needs the full floor(|l|/2)+1 probe
    // prefix (o >= |l|/2 via the length filter). Joining index-side
    // against probe-side cuts each shingle bucket's pair count by
    // ~the prefix-length ratio versus the symmetric join.
    val probeP = prefix(col("n") / lit(2) + lit(1))
    val indexP = prefix(col("n") / lit(3) + lit(1))

    // Candidates: pairs sharing a prefix shingle (no false negatives:
    // order each true pair as (small, large) by (n, doc_id) — its
    // first common shingle lies in small's INDEX prefix and large's
    // PROBE prefix, see above), pre-pruned by PPJoin's LENGTH filter
    // in the join condition (J >= 1/2 forces |small| and |large|
    // within a factor of 2 — o <= |small| and 3o >= |s|+|l| are
    // incompatible otherwise) and by ppjoin's AGGREGATE positional
    // bound after the per-pair fold:
    //   with α = the number of shared prefix shingles and (pa, pb) the
    //   1-based positions of the LAST shared prefix shingle s* in the
    //   common total order, every other common shingle sorts after s*
    //   (one sorting before it would sit inside BOTH prefixes — its
    //   positions are below pa ≤ |small-prefix| resp. pb — and so
    //   would itself be a counted match), hence
    //   o ≤ α + min(n_s − pa, n_l − pb); a pair whose bound cannot
    //   certify 3o ≥ n_s + n_l is pruned with no false negatives.
    //   This replaces the previous PER-ROW positional filter (o ≤ 1 +
    //   min(n_s − p_s, n_l − p_l) per match), which is exactly the
    //   α-bound truncated to the pair's loosest row — the aggregate
    //   form dominates it, so the verification join sees a subset of
    //   the previous candidates (§3: reduce the big side before the
    //   expensive join). max(pos) per side is well-defined as s*'s
    //   positions because prefixes are sorted by the shared order.
    // The fold runs on the same (id, id) exchange the old distinct
    // used, with map-side partial aggregation (count/max combine).
    val cand = indexP.as("a")
      .join(probeP.as("b"),
        col("a.s") === col("b.s") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))) &&
          col("b.n") <= col("a.n") * 2)
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("alpha"),
        max(col("a.pos")).as("pa"), max(col("b.pos")).as("pb"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .filter((col("alpha") +
        least(col("na") - col("pa"), col("nb") - col("pb"))) * 3 >=
        col("na") + col("nb"))
      .select(least(col("da"), col("db")).as("doc_id_1"),
        greatest(col("da"), col("db")).as("doc_id_2"))

    // Exact verification, candidate-bounded: join each side's FULL
    // shingle array (one row per doc, already built for the prefix
    // cut) and count the overlap in-place — it never becomes rows.
    // The earlier row-form (explode doc1's set, equi-join doc2's)
    // shuffled |candidates|·|x| rows into a regrouping exchange;
    // this shape moves |candidates| rows with two array payloads and
    // no post-join aggregation at all (measured 75 s -> array form on
    // the sf0.1 near-dup corpus, where clustered docs make candidate
    // volume the dominant term). The count itself is the codegen'd
    // two-pointer merge SortedOverlapCount over per-doc ASCENDING
    // string arrays (one array_sort per DOC, not per pair) — same
    // result as size(array_intersect), without that built-in's
    // per-PAIR hash set + intersection-array allocation, which
    // profiling put at ~60% of the query on the clustered sf0.1
    // corpus (3.5M candidates for 256 survivors).
    val docsets = ordered
      .select(col("doc_id"), col("n"),
        array_sort(expr("transform(sorted, p -> p.s)")).as("arr"))
    val verified = cand
      .join(docsets.select(col("doc_id").as("doc_id_1"),
        col("n").as("n1"), col("arr").as("arr1")), Seq("doc_id_1"))
      .join(docsets.select(col("doc_id").as("doc_id_2"),
        col("n").as("n2"), col("arr").as("arr2")), Seq("doc_id_2"))
      .select(col("doc_id_1"), col("doc_id_2"), col("n1"), col("n2"),
        graft.functions.SetFunctions.sortedOverlap(col("arr1"), col("arr2"))
          .as("n_common"))
      // tau = 1/2 as integers: o/(n1+n2-o) >= 1/2  <=>  3o >= n1+n2
      .filter(col("n_common") * 3 >= col("n1") + col("n2"))

    verified.select(
      col("doc_id_1"), col("doc_id_2"), col("n_common"),
      (round(col("n_common").cast("double") /
        (col("n1") + col("n2") - col("n_common")), 6) + lit(0.0)).as("jaccard"))
      .orderBy(asc_nulls_first("doc_id_1"), asc_nulls_first("doc_id_2"))
  }
}
