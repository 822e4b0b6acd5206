#!/usr/bin/env python3
"""The repo benchmark: closed-loop query passes over the sf0.1 fixtures.

    python3 perfbench/run.py --workload short_tail --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine and the harness from
source (`harness/build.py`), launches the harness JVM on Spark `local[4]`,
runs one cold pass, one pass that writes every query's output for the
check against the DuckDB oracle (`check.py`), and then warm passes of the
workload for `--seconds`. It prints one JSON line last: the end-to-end metrics with `--trace 0`, the
per-layer metrics of a traced run (`layers.py`) with `--trace 1`. The seed
sets the query order of every pass; the fixtures are fixed. Details of the
run (passes, host calibration, spans, per-query layers) go to
`.bench_build/results/`.
"""
import argparse
import json
import os
import queue
import random
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path
from statistics import median, quantiles

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from harness import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
FIXTURE = os.environ.get("PERFBENCH_FIXTURE", str(Path.home() / "testdata" / "sf0.1"))
CORES = 4
DEADLINE_S = 160  # per run after the build; the caller allows 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Metric names and units are the ones BENCHMARK.json declares.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


class Jvm:
    """One harness process: stdout lines arrive on a queue, stderr goes to a log."""

    def __init__(self, classes, run_dir, plan, deadline):
        self.deadline = deadline
        self.log = open(run_dir / "jvm.log", "ab")
        cp = os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources"),
                              f"{build.spark_jars(ROOT)}/*"])
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(
            ["java", *ADD_OPENS, "-Xmx2g", "-XX:-UsePerfData",
             "-XX:ReservedCodeCacheSize=512m",
             "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             "-cp", cp, "perfbench.Harness", str(plan)],
            cwd=run_dir, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=self.log)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.decode(errors="replace").strip())
        self.lines.put(None)

    def expect(self, word):
        """Seconds from launch until the harness printed `word`."""
        while True:
            left = self.deadline - time.monotonic()
            try:
                line = self.lines.get(timeout=max(0.1, left))
            except queue.Empty:
                line = None
            if line == word:
                return time.monotonic() - self.t0
            if line is None or time.monotonic() > self.deadline:
                raise RuntimeError(f"harness ended or timed out before {word}")

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    def kill(self):
        """Stop the JVM once its results are on disk and its peak RSS is read."""
        self.proc.kill()
        self.proc.wait()
        self.log.close()


def write_plan(run_dir, names, seed, seconds, traced, plants=None):
    rng = random.Random(seed)
    lines = [f"fixture {FIXTURE}", f"cores {CORES}", f"seconds {seconds}",
             f"traced {int(traced)}",
             f"out {run_dir / 'result.json'}", f"check_dir {run_dir / 'check'}",
             f"warehouse {run_dir / 'warehouse'}", f"local_dir {run_dir / 'local'}"]
    # The cold pass runs in name order: its cost depends on which queries
    # warm the JIT for which, and a one-shot job runs a fixed script. The
    # seed orders the warm passes.
    lines.append("order " + " ".join(sorted(names)))
    for _ in range(63):
        order = sorted(names)
        rng.shuffle(order)
        lines.append("order " + " ".join(order))
    for kind, qs in (plants or {}).items():
        lines.append(f"plant_{kind} " + " ".join(qs))
    path = run_dir / "run.plan"
    path.write_text("\n".join(lines) + "\n")
    return path


def run(names, seed, seconds, traced, plants=None, keep_outputs=None):
    """Execute one benchmark run; return (result line dict, detail record)."""
    start = time.monotonic()
    classes = build.build(ROOT, OUT)
    deadline = time.monotonic() + DEADLINE_S
    run_dir = OUT / "runs" / f"{os.getpid()}-{seed}-{int(traced)}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "check", "warehouse", "local", "duckdb"):
        (run_dir / d).mkdir(parents=True)
    try:
        jvm = Jvm(classes, run_dir, write_plan(run_dir, names, seed, seconds, traced,
                                              plants=plants), deadline)
        try:
            setup = jvm.expect("READY")
            jvm.expect("DONE")
            rss = jvm.peak_rss_mb()
        finally:
            jvm.kill()
        record = json.loads((run_dir / "result.json").read_text())
        harness_errors = {c["out"]: c["error"] for c in record["checks"]}
        wrong = check.check(ROOT, FIXTURE, run_dir / "check", sorted(names), harness_errors,
                            run_dir / "duckdb")
        if keep_outputs is not None:
            keep_outputs.update(check_digests(run_dir / "check", names))
    except Exception:
        log = run_dir / "jvm.log"
        if log.is_file():
            sys.stderr.write(log.read_text(errors="replace")[-3000:])
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return score(names, record, setup, rss, wrong, traced, time.monotonic() - start)


def check_digests(check_dir, names):
    sc = check.load_selfcheck(ROOT)
    return {n: check.spark_answer(sc, check_dir, n)[1] for n in names}


def score(names, record, setup, rss, wrong, traced, run_s):
    passes = record["passes"]
    thrown = [(q["name"], p["index"], q["error"]) for p in passes for q in p["queries"] if q["error"]]
    attempted = sum(len(p["queries"]) for p in passes) + len(names)
    failed = len(thrown) + len(wrong)
    clean = [p for p in passes if not any(q["error"] for q in p["queries"])]
    # A pass that holds a throw is failed: its wall time and latencies are
    # never reported, so a run whose passes all failed has no pass timing.
    warm = [p for p in clean if p["index"] > 0 and not p["traced"]]
    lat = sorted(q["construct_s"] + q["action_s"] for p in warm for q in p["queries"])
    walls = [p["wall_s"] for p in warm]
    e2e = {"setup_s": setup, "peak_rss_mb": rss}
    if passes[0] in clean:
        e2e["cold_pass_s"] = passes[0]["wall_s"]
    detail = {
        "queries": len(names), "passes": passes, "failed_queries": thrown,
        "wrong_results": wrong, "run_s": run_s, "latency_samples": len(lat),
        "failed_frac": failed / attempted, "end_to_end": e2e,
    }
    if warm:
        e2e.update(pass_s=median(walls), query_p50_s=median(lat),
                   query_p90_s=quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0])
        detail.update(pass_s_quartiles=quantiles(walls, n=4) if len(walls) > 1 else walls * 3,
                      queries_per_s=len(names) / e2e["pass_s"])
    if traced:
        per_layer, rows, spans, sites = layers.summarise(record, record["cores"], e2e.get("pass_s"))
        per_layer["failed_frac"] = failed / attempted
        detail.update(layers=per_layer, query_layers=rows, spans=spans, construct_sites=sites)
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items() if k in per_layer}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items() if k in e2e}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return line, detail


def report(workload, detail, line):
    e = detail["end_to_end"]
    w = sys.stderr.write
    w(f"[perfbench] {workload}: {detail['queries']} queries, {len(detail['passes'])} passes "
      f"(1 cold), run {detail['run_s']:.1f} s\n")
    for p in detail["passes"]:
        bad = sum(1 for q in p["queries"] if q["error"])
        w(f"  pass {p['index']:2d} {'traced' if p['traced'] else 'plain '} "
          f"wall {p['wall_s']:7.3f} s  host_calib_s 1t {p['host_calib1t_s']:.3f} "
          f"4t {p['host_calib4t_s']:.3f}{'  FAILED ' + str(bad) if bad else ''}\n")
    if "pass_s" in e:
        q1, _, q3 = detail["pass_s_quartiles"]
        w(f"  pass_s median {e['pass_s']:.3f} (quartiles {q1:.3f} {q3:.3f}), "
          f"{detail['queries_per_s']:.2f} queries/s at sf0.1\n")
    else:
        w("  no warm pass ran clean: no pass_s, query_p50_s or query_p90_s\n")
    w(f"  latency samples {detail['latency_samples']}; failed_frac {detail['failed_frac']:.4f}\n")
    for name, why in detail["wrong_results"].items():
        w(f"  WRONG {name}: {why}\n")
    for name, idx, err in detail["failed_queries"]:
        w(f"  THREW {name} (pass {idx}): {err}\n")
    if "layers" in detail:
        L = detail["layers"]
        w(f"  traced: construct_frac {L['operators.construct_frac']:.3f}, executor.util "
          f"{L['executor.util']:.3f}, overhead {L.get('trace.overhead_s', float('nan')):+.3f} s, "
          f"self-time sum deviation {L['trace.self_sum_dev']:.4f}\n")
        for site, n in list(detail["construct_sites"].items())[:12]:
            w(f"  construct jobs {n:4d}  {site}\n")
    for k, m in line["metrics"].items():
        w(f"  {k} = {m['value']:.6g} {m['unit']}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [p for p in ("src/main/scala/graft/SparkEntry.scala", "tools/selfcheck.py")
               if not (ROOT / p).is_file()]
    if missing:
        sys.exit(f"perfbench: not a source checkout, missing {', '.join(missing)}")
    if not Path(FIXTURE, "lineitem.parquet").is_file():
        sys.exit(f"perfbench: no fixtures at {FIXTURE}")
    names = workloads.WORKLOADS[a.workload]
    line, detail = run(names, a.seed, a.seconds, bool(a.trace))
    (OUT / "results").mkdir(parents=True, exist_ok=True)
    (OUT / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps({"workload": a.workload, "seed": a.seed, "result": line, **detail}))
    report(a.workload, detail, line)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
