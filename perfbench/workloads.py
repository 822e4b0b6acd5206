"""Frozen query lists of the repo benchmark; the lists are disjoint.

Each list is a subset of the matching list in the benchmark's design
(68 short queries, 19 eager ones), cut so that one run of the benchmark
(a JVM launch, a cold pass, an output-check pass and warm passes for the
measured window) stays under a minute on a 4-core host.

short_tail -- the per-query fixed cost. Rule: every 16th name, in sorted
    order, of the 68-name list (itself every 4th name of the queries that
    ran under 0.9 s), plus the reference's flagship q_wordcount and
    q_inverted_index. Execution is near-serial (a handful of jobs per
    query, about one task per stage, executor utilisation about 0.2), so
    schema inference, Catalyst and job and stage scheduling are most of
    the bill.

eager_pipeline -- driver-side construction. Rule: the incremental dedup
    ledger q_dedup_incremental, the cheapest of the two ledger pipelines.
    Its constructor writes bucketed parquet tables and re-reads them, fires
    eager localCheckpoints and a capped collect, and does the only sink
    writes in the lists; about 85% of its wall time is spent before the
    timed action.

Dropped for the time budget (the benchmark's full set of runs must fit
in under an hour on a 4-core host, where these queries take 2-20 s each):
the third list, heavy_compute (executor-bound queries), and the eager
list's graph loops (q_kcore and the rest). Adding one of those,
q_cluster_sizes (GraphOps' localCheckpoint and capped collect), took an
eager_pipeline run from 45 s to 60 s and left one warm pass in the window. Executor and shuffle figures are still measured
on both lists above.
"""

WORKLOADS = {
    "short_tail": ["ann_lsh_topk", "q_dedup_exact", "q_inverted_index", "q_kanon",
                   "q_sample_balanced", "q_welch_t", "q_wordcount"],
    "eager_pipeline": ["q_dedup_incremental"],
}
