"""Layer attribution of a traced run.

Input is the harness's raw record: timed passes (pass -> query ->
{construct, action}) and the listener's jobs, stages and Catalyst phases.
Jobs join their query by job group and their phase by the local property
the harness set; stages join their job by stage id; a QueryExecution's
Catalyst phases join the query whose window holds its first phase.

Each query's wall time is split into self times that partition it:
`jobs` (some Spark job of the query running), `catalyst` (analysis,
optimisation or planning running and no job), and what remains of the
construct window (`construct`) and of the action window (`driver_gap`).
Time a job or phase spends outside its query's window is counted too,
so a sum above the wall time shows spans leaking out of their parent.
"""
from collections import Counter, defaultdict
from statistics import median

PHASES = ("analysis", "optimization", "planning")


def union(intervals):
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(ivs):
    return sum(e - s for s, e in ivs)


def minus(ivs, cut):
    """Parts of the (disjoint, sorted) `ivs` not covered by `cut`."""
    out = []
    for s, e in ivs:
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append([cur, cs])
            cur = max(cur, ce)
        if cur < e:
            out.append([cur, e])
    return out


def layer_table(record):
    """Per-query layer figures and spans for every traced pass."""
    tr = record["trace"]
    stages_by_job = defaultdict(list)
    owner = {}
    for j in tr["jobs"]:
        for sid in j["stage_ids"]:
            owner.setdefault(sid, j["id"])
    for s in tr["stages"]:
        if s["id"] in owner:
            stages_by_job[owner[s["id"]]].append(s)
    jobs_by_group = defaultdict(list)
    for j in tr["jobs"]:
        jobs_by_group[j["group"]].append(j)

    traced = [p for p in record["passes"] if p["traced"]]
    windows = [(q["start_ms"], q["construct_end_ms"], q["end_ms"], f"{q['name']}#{p['index']}")
               for p in traced for q in p["queries"]]
    qes_by_group = defaultdict(list)
    for qe in tr["qes"]:
        starts = [v[0] for v in qe["phases"].values()]
        if not starts:
            continue
        t = min(starts)
        for s, c, e, gid in windows:
            if s <= t <= e:
                qes_by_group[gid].append((qe, "construct" if t < c else "action"))
                break

    rows, spans = [], []
    for p in traced:
        pid = f"pass#{p['index']}"
        qs = p["queries"]
        spans.append({"id": pid, "parent": None, "kind": "pass",
                      "start_ms": qs[0]["start_ms"], "end_ms": qs[-1]["end_ms"]})
        for q in qs:
            gid = f"{q['name']}#{p['index']}"
            s, c, e = q["start_ms"], q["construct_end_ms"], q["end_ms"]
            spans += [{"id": gid, "parent": pid, "kind": "query", "start_ms": s, "end_ms": e},
                      {"id": f"{gid}/construct", "parent": gid, "kind": "construct",
                       "start_ms": s, "end_ms": c},
                      {"id": f"{gid}/action", "parent": gid, "kind": "action",
                       "start_ms": c, "end_ms": e}]
            jobs = jobs_by_group.get(gid, [])
            stages = [st for j in jobs for st in stages_by_job[j["id"]]]
            for j in jobs:
                end = j["end_ms"] if j["end_ms"] >= 0 else e
                spans.append({"id": f"job{j['id']}", "parent": f"{gid}/{j['phase'] or 'action'}",
                              "kind": "job", "name": j["site"], "start_ms": j["start_ms"],
                              "end_ms": end})
                for st in stages_by_job[j["id"]]:
                    spans.append({"id": f"stage{st['id']}.{st['attempt']}", "parent": f"job{j['id']}",
                                  "kind": "stage", "name": st["name"],
                                  "start_ms": st["submit_ms"], "end_ms": st["end_ms"]})
            qes = qes_by_group.get(gid, [])
            J = union([j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else e] for j in jobs)
            C = minus(union([v[0], v[1]] for qe, _ in qes for k, v in qe["phases"].items()
                            if k in PHASES), J)
            busy = union(J + C)
            construct_self = length(minus([[s, c]], busy))
            gap_self = length(minus([[c, e]], busy))
            job_s, cat_s = length(J), length(C)
            wall_ms = e - s
            construct_jobs = [j for j in jobs if j["phase"] == "construct"]
            st_sum = lambda k: sum(st["agg"][k] for st in stages)
            rows.append({
                "query": q["name"], "pass": p["index"], "wall_s": wall_ms / 1e3,
                "self": {"construct_s": construct_self / 1e3, "catalyst_s": cat_s / 1e3,
                         "jobs_s": job_s / 1e3, "driver_gap_s": gap_self / 1e3},
                "self_sum_over_wall": (construct_self + cat_s + job_s + gap_self) / wall_ms
                if wall_ms > 0 else 1.0,
                "construct_sites": dict(Counter(j["site"] for j in construct_jobs)),
                "eager_actions": dict(Counter(qe["func"] for qe, ph in qes if ph == "construct")),
                "operators.construct_s": q["construct_s"],
                "operators.construct_jobs": len(construct_jobs),
                "operators.eager_actions": sum(1 for _, ph in qes if ph == "construct"),
                "tables.schema_jobs": sum(1 for j in construct_jobs if "Tables.scala" in j["site"]),
                "tables.scan_bytes": st_sum("input_bytes"),
                "tables.scan_records": st_sum("input_records"),
                **{f"catalyst.{k}_s": sum(qe["phases"][k][1] - qe["phases"][k][0]
                                          for qe, _ in qes if k in qe["phases"]) / 1e3
                   for k in PHASES},
                "scheduler.jobs": len(jobs),
                "scheduler.stages": len(stages),
                "scheduler.tasks": st_sum("tasks"),
                "scheduler.tasks_failed": st_sum("tasks_failed"),
                "scheduler.delay_s": st_sum("delay_ms") / 1e3,
                "scheduler.driver_gap_s": gap_self / 1e3,
                "executor.run_s": st_sum("run_ms") / 1e3,
                "executor.cpu_s": st_sum("cpu_ns") / 1e9,
                "executor.gc_s": st_sum("gc_ms") / 1e3,
                "shuffle.write_bytes": st_sum("shuffle_write_bytes"),
                "shuffle.read_bytes": st_sum("shuffle_read_bytes"),
                "shuffle.fetch_wait_s": st_sum("fetch_wait_ms") / 1e3,
                "shuffle.spill_bytes": st_sum("spill_bytes"),
                "sink.output_bytes": st_sum("output_bytes"),
                "sink.output_records": st_sum("output_records"),
            })
    return rows, spans


SUMMED = ("operators.construct_s", "operators.construct_jobs", "operators.eager_actions",
          "tables.schema_jobs", "tables.scan_bytes", "tables.scan_records",
          "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
          "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.tasks_failed",
          "scheduler.delay_s", "scheduler.driver_gap_s",
          "executor.run_s", "executor.cpu_s", "executor.gc_s",
          "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
          "shuffle.spill_bytes", "sink.output_bytes", "sink.output_records")


def per_pass(rows, passes, cores):
    """Workload figures of each traced pass: layer sums plus ratios."""
    out = []
    for p in passes:
        rs = [r for r in rows if r["pass"] == p["index"]]
        f = {k: sum(r[k] for r in rs) for k in SUMMED}
        f["scheduler.tasks_per_stage"] = f["scheduler.tasks"] / max(1, f["scheduler.stages"])
        f["executor.util"] = f["executor.run_s"] / (p["wall_s"] * cores)
        f["operators.construct_frac"] = f["operators.construct_s"] / p["wall_s"]
        out.append(f)
    return out


def summarise(record, cores, untraced_pass_s):
    """Per-layer metrics of a traced run (medians over its traced passes),
    the per-query table, the spans and the per-site construction counts."""
    rows, spans = layer_table(record)
    traced = [p for p in record["passes"] if p["traced"]]
    figures = per_pass(rows, traced, cores)
    metrics = {k: median(f[k] for f in figures) for k in figures[0]}
    traced_pass_s = median(p["wall_s"] for p in traced)
    metrics["trace.pass_s"] = traced_pass_s
    if untraced_pass_s is not None:  # None when no untraced warm pass ran clean
        metrics["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    metrics["trace.self_sum_dev"] = max(abs(r["self_sum_over_wall"] - 1) for r in rows)
    first = traced[0]["index"]
    sites = Counter()
    for r in rows:
        if r["pass"] == first:
            sites.update(r["construct_sites"])
    return metrics, rows, spans, dict(sites.most_common())
