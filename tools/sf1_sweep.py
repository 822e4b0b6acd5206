#!/usr/bin/env python3
"""Full-surface 10x correctness sweep → CORRECTNESS_SF1_r{N}.json.

Judges every oracle-checked query at the synthetic sf1 scale, consuming
graft.Verify dumps INCREMENTALLY (as each query's parquet lands) so the
DuckDB side overlaps the still-running Spark side. Resumable: results
accumulate in a state file; already-judged queries are skipped.

Usage:
  sf1_sweep.py <sfDir> <verifyOutDir> <oracleSqlJson> <round> \
      [--final] [--skip-unrolled] [--label SF1] [--subset FILE]

--skip-unrolled skips the iterative-pagerank faithfulness cross-check
(the unrolled CTE SQL is spill-infeasible at 10x+; an EXPLICIT flag,
not path sniffing). --label names the artifact scale tier:
CORRECTNESS_<label>_r<round>.json. With --final, waits for nothing:
judges what's available, then writes the artifact from the state
file. The state file is keyed by (sfDir, round, label) — a sweep for
a new round/scale starts clean instead of inheriting stale judgments,
and concurrent sweeps don't collide. --subset FILE (one query name per
line) restricts the sweep to a declared deep-tail list — used for the
expensive outer decades where a full-surface pass is wall-clock
infeasible; the artifact note then names the subset honestly instead
of claiming full coverage.
Dev tool only — NOT part of the Scala library.
"""
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import judge  # noqa: E402


def main():
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir, out_dir, oracle_json, rnd = pos[:4]
    final = "--final" in sys.argv
    skip_unrolled = "--skip-unrolled" in sys.argv
    label = (sys.argv[sys.argv.index("--label") + 1]
             if "--label" in sys.argv else "SF1")
    subset = None
    if "--subset" in sys.argv:
        subset_path = sys.argv[sys.argv.index("--subset") + 1]
        subset = {ln.strip() for ln in open(subset_path)
                  if ln.strip() and not ln.startswith("#")}
    key = hashlib.md5(f"{sf_dir}|{rnd}|{label}".encode()).hexdigest()[:10]
    state_path = f"/tmp/sweep_state_{label}_r{rnd}_{key}.json"
    meta = {"sf_dir": sf_dir, "round": rnd, "label": label}
    oracle = json.load(open(oracle_json))
    if subset is not None:
        unknown = subset - set(oracle)
        assert not unknown, f"subset names not in oracle map: {unknown}"
        oracle = {n: s for n, s in oracle.items() if n in subset}
    state = (json.load(open(state_path))
             if os.path.exists(state_path) else {})
    if state.pop("_meta", None) not in (None, meta):
        print(f"[sweep] stale state at {state_path} (meta mismatch); "
              "resetting", flush=True)
        state = {}
    con = duckdb.connect()
    # Overridable for the outer decades, where the heavy recursive-CTE
    # cluster oracles need the whole box (8/24GB left the 100x sweep
    # spilling 11GB and pinned to one query for 40+ min).
    con.execute(f"SET threads TO {os.environ.get('DUCK_THREADS', '8')}")
    con.execute("SET memory_limit="
                f"'{os.environ.get('DUCK_MEM', '24GB')}'")
    os.makedirs("/tmp/duck_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    pending = [n for n in sorted(oracle) if n not in state]
    n_round = 0
    for name in pending:
        if not os.path.exists(f"{out_dir}/{name}/_SUCCESS"):
            continue
        state[name] = judge(con, name, oracle[name], out_dir, skip_unrolled)
        n_round += 1
        print(f"{state[name]['status'].upper():4s} {name}: "
              f"{state[name].get('rows', state[name].get('reason'))}",
              flush=True)
        json.dump({**state, "_meta": meta}, open(state_path, "w"),
                  indent=1, sort_keys=True)
    remaining = [n for n in sorted(oracle) if n not in state]
    print(f"[sweep] judged {n_round} this pass; "
          f"{len(remaining)} still pending: {remaining[:8]}", flush=True)
    if final:
        fails = {n: r for n, r in state.items() if r["status"] != "ok"}
        scale_desc = {
            "SF1": ("1.0-synthetic (10x sf0.1 via graft.SynthScale: "
                    "key-shifted replicas, disjoint-token documents, "
                    "jittered embeddings; single-file tables matching "
                    "the driver fixture layout)"),
            "SF10": ("10-synthetic (100x sf0.1 = 10x the synthetic sf1 "
                     "via graft.SynthScale, same replication "
                     "conventions)"),
        }.get(label, f"{label}-synthetic via graft.SynthScale")
        note = ("FULL-surface sweep past the largest driver "
                "fixture: every oracle-checked query. q_pagerank "
                "judged via the resource-feasible iterative oracle "
                "(temp-table rounds in tools/selfcheck.py, "
                "cross-checked equal to the unrolled contract SQL "
                "at driver-fixture scales)."
                if subset is None else
                f"DECLARED-SUBSET deep-tail sweep ({len(oracle)} "
                "queries): the slowest bench queries plus the full "
                "dedup/ledger/graph chains and every query rewired "
                "onto ScaleOps.partitionedRank this round. NOT "
                "full-surface — the full 307-query net runs at SF01 "
                "and SF1; this tier exists to expose bugs only "
                "visible another decade up. q_pagerank judged via "
                "the iterative oracle in tools/selfcheck.py.")
        art = {
            "sf": scale_desc,
            "round": int(rnd),
            "note": note,
            "n_ok": sum(1 for r in state.values() if r["status"] == "ok"),
            "n_fail": len(fails),
            "failures": sorted(fails),
            "queries": {n: state[n] for n in sorted(state)},
        }
        path = f"CORRECTNESS_{label}_r{rnd}.json"
        json.dump(art, open(path, "w"), indent=1)
        print(f"[sweep] wrote {path}: n_ok={art['n_ok']} "
              f"n_fail={art['n_fail']}")
        sys.exit(1 if fails or remaining else 0)


if __name__ == "__main__":
    main()
