#!/usr/bin/env python3
"""Self-test of the repo benchmark at sf0.001 (about two minutes).

    python3 perfbench/selftest.py

Checks that
- every end-to-end and every per-layer metric is printed with its unit;
- a planted throwing query and a planted wrong-result query each count
  as failed, the run reads as not correct, and the passes that hold the
  throw report no pass timing;
- a traced and an untraced run give identical query outputs.
"""
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

run.FIXTURE = str(Path(run.FIXTURE).parent / "sf0.001")
NAMES = ["q_wordcount", "q_abc", "q_join_full", "ann_lsh_topk"]
THROWS, WRONG = "q_join_full", "q_wordcount"


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    return cond


def metrics_complete(line, table):
    got = line["metrics"]
    return set(got) == set(table) and all(
        got[k]["unit"] == u and isinstance(got[k]["value"], (int, float)) for k, u in table.items())


def main():
    ok = True
    line, detail = run.run(NAMES, 7, 2, False, plants={"throw": [THROWS], "wrong": [WRONG]})
    ok &= expect(not line["correct"], "a run with planted failures is not correct")
    ok &= expect(not {"pass_s", "query_p50_s", "query_p90_s", "cold_pass_s"} & set(line["metrics"]),
                 "passes that hold a throw report no pass timing")
    thrown = {n for n, _, _ in detail["failed_queries"]}
    ok &= expect(thrown == {THROWS} and THROWS in detail["wrong_results"],
                 f"the planted throw in {THROWS} is counted")
    ok &= expect(set(detail["wrong_results"]) == {THROWS, WRONG}
                 and "oracle" in detail["wrong_results"][WRONG],
                 f"the planted wrong result of {WRONG} is counted")
    ok &= expect(line["failed"] == len(detail["failed_queries"]) + 2 and detail["failed_frac"] > 0,
                 "failed_frac counts both plants")

    plain, traced = {}, {}
    line0, _ = run.run(NAMES, 8, 2, False, keep_outputs=plain)
    line1, detail1 = run.run(NAMES, 8, 2, True, keep_outputs=traced)
    ok &= expect(line0["correct"] and line1["correct"], "clean runs are correct")
    ok &= expect(metrics_complete(line0, run.END_TO_END), "every end-to-end metric has its unit")
    ok &= expect(metrics_complete(line1, run.PER_LAYER), "every per-layer metric has its unit")
    ok &= expect(plain == traced and len(plain) == len(NAMES),
                 "traced and untraced runs give identical outputs")
    ok &= expect(detail1["layers"]["trace.self_sum_dev"] <= 0.05,
                 "each query's self times add up to its traced wall time within 5%")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
