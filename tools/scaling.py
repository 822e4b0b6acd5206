#!/usr/bin/env python3
"""Regenerates SCALING.md: graft.Bench over a fixture and its k-fold copies.

Usage: scaling.py <baseDir>

For k = 1, 4, 16: the 1x point is <baseDir> itself, the 4x and 16x points
are written by graft.SynthScale into a temporary directory. graft.Bench
times the queries of tools/scaling_subset.txt on each point. Both mains run
through `sbt --batch runMain`, so the JVM flags come from build.sbt only;
the environment (SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS) passes through.
Exits non-zero, naming the failed queries and leaving SCALING.md as it was,
if SynthScale fails or a Bench run lists a failed query.
Dev tool only — NOT part of the Scala library.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBSET = os.path.join(ROOT, "tools", "scaling_subset.txt")
LADDER = (1, 4, 16)


def sbt(main_args, env, log):
    """Runs one main; returns (exit code, stdout lines, wall seconds)."""
    t0 = time.monotonic()
    with open(log, "w") as err:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"runMain {main_args}"],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
    return p.returncode, p.stdout.splitlines(), time.monotonic() - t0


def bench(sf_dir, env, log):
    """Per-query (min, med) seconds, the failed list and wall seconds."""
    code, lines, wall = sbt("graft.Bench", dict(env, SPARK_GRAFT_SF_DIR=sf_dir), log)
    queries, failed = {}, None
    for line in lines:
        if not line.startswith("{"):
            continue
        rec = json.loads(line)
        if rec.get("metric") == "query":
            queries[rec["name"]] = (rec["min"], rec["med"])
        elif "failed" in rec:
            failed = rec["failed"]
    if code != 0 or failed is None or failed:
        sys.exit(f"scaling: graft.Bench at {sf_dir} exited {code}; "
                 f"failed queries: {', '.join(failed or []) or 'unknown'} (log: {log})")
    return queries, wall


def row_counts(sf_dir):
    return {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
            for f in sorted(os.listdir(sf_dir)) if f.endswith(".parquet")}


def commit():
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                          capture_output=True, text=True).stdout.strip() or "unknown"
    dirty = subprocess.run(["git", "status", "--porcelain", "--", "src", "tools", "build.sbt"],
                           cwd=ROOT, capture_output=True, text=True).stdout.strip()
    return head + (" + uncommitted changes to src/, tools/ or build.sbt" if dirty else "")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    base = os.path.abspath(sys.argv[1])
    out = os.path.join(ROOT, "SCALING.md")
    env = dict(os.environ, SPARK_GRAFT_BENCH_SUBSET="@" + SUBSET)
    work = tempfile.mkdtemp(prefix="graft-scaling-")
    points = {}
    for k in LADDER:
        sf_dir = base if k == 1 else os.path.join(work, f"x{k}")
        if k > 1:
            log = os.path.join(work, f"synth-{k}.log")
            code, _, _ = sbt(f"graft.SynthScale {base} {sf_dir} {k}", env, log)
            if code != 0:
                sys.exit(f"scaling: graft.SynthScale {k}x exited {code} (log: {log})")
        rows = row_counts(sf_dir)
        queries, wall = bench(sf_dir, env, os.path.join(work, f"bench-{k}.log"))
        points[k] = (rows, queries, wall)
        print(f"[scaling] {k}x: {len(queries)} queries, wall {wall:.0f} s", file=sys.stderr)
        if k > 1:
            shutil.rmtree(sf_dir)
    shutil.rmtree(work)

    md = ["# Scaling: graft.Bench over SynthScale copies", "",
          f"Generated by `tools/scaling.py {sys.argv[1]}`; do not edit by hand.", "",
          f"- commit: {commit()}",
          f"- base directory: `{sys.argv[1]}`; the {', '.join(f'{k}x' for k in LADDER[1:])} "
          "copies are written by `graft.SynthScale`",
          f"- host: nproc {len(os.sched_getaffinity(0))}; "
          f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', 'unset')}; "
          f"SPARK_GRAFT_BENCH_REPS={os.environ.get('SPARK_GRAFT_BENCH_REPS', 'unset')}",
          f"- queries: the {len(points[1][1])} of `tools/scaling_subset.txt`; 0 failed",
          "- Bench wall time (JVM start, warm pass and measured reps): "
          + ", ".join(f"{k}x {points[k][2]:.0f} s" for k in LADDER),
          "",
          "t_k/t_1 compares min seconds; a ratio well above k marks a super-linear query. "
          "The ledger byte tables, plain-vs-salted skew and path-graph rounds of the "
          "retired operator smoke have no query behind them: their checks are "
          "ClusterLedgerSpec, ScaleOpsSpec and GraphOpsSpec.", "",
          "## Input rows (parquet footers)", "",
          "| table | " + " | ".join(f"{k}x" for k in LADDER) + " |",
          "|---|" + "---:|" * len(LADDER)]
    for t in points[1][0]:
        md.append(f"| {t} | " + " | ".join(str(points[k][0][t]) for k in LADDER) + " |")
    top = LADDER[-1]
    md += ["", "## Query seconds", "",
           "| query | " + " | ".join(f"{k}x min | {k}x med" for k in LADDER) + " | "
           + " | ".join(f"t{k}/t1" for k in LADDER[1:]) + " |",
           "|---|" + "---:|" * (2 * len(LADDER) + len(LADDER) - 1)]

    def ratio(q, k):
        return points[k][1][q][0] / max(points[1][1][q][0], 1e-3)

    for q in sorted(points[1][1], key=lambda q: (-ratio(q, top), q)):
        cells = [f"{points[k][1][q][0]:.2f} | {points[k][1][q][1]:.2f}" for k in LADDER]
        md.append(f"| {q} | " + " | ".join(cells) + " | "
                  + " | ".join(f"{ratio(q, k):.2f}" for k in LADDER[1:]) + " |")
    tot = {k: [sum(v[i] for v in points[k][1].values()) for i in (0, 1)] for k in LADDER}
    md.append("| **total** | " + " | ".join(f"{tot[k][0]:.1f} | {tot[k][1]:.1f}" for k in LADDER)
              + " | " + " | ".join(f"{tot[k][0] / tot[1][0]:.2f}" for k in LADDER[1:]) + " |")
    with open(out, "w") as f:
        f.write("\n".join(md) + "\n")
    print(f"[scaling] wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
