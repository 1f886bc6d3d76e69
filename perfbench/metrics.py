"""Turns the benchmark JVM's raw records (`result.json`) into the benchmark's
end-to-end metrics, per-layer metrics and trace spans.

Definitions (see NOTES.md for what each one should move):
- a *pass* is one run over every operation of the workload; pass 0 is cold;
- an *operation* is one registry query, or one batch sync in `ingest_sync`
  (the read after each batch is timed separately);
- per-layer figures are per warm traced pass, and the reported value is
  their median.
"""
import statistics

MB = 1048576.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_passes(result, traced):
    return [p for p in result["passes"] if p["pass"] >= 1 and p["traced"] == traced]


def primary(op):
    return op["kind"] in ("query", "sync")


def tail(latencies, beyond=10):
    """Latency at the highest percentile with at least `beyond` samples
    above it, but never below the median (a run with at most 2 * `beyond`
    samples reports its median); returns (value, percentile, samples)."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 2 * beyond:
        return statistics.median(xs), 50.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def end_to_end(result, setup_s):
    passes = {p["pass"]: p for p in result["passes"]}
    warm = warm_passes(result, traced=False)
    warm_ids = {p["pass"] for p in warm}
    warm_ops = [o for o in result["ops"] if o["pass"] in warm_ids and o["error"] is None]
    lat = [o["seconds"] for o in warm_ops if primary(o)]
    tail_v, tail_pct, tail_n = tail(lat)
    syncs = [o for o in warm_ops if o["kind"] == "sync"]
    reads = [o["seconds"] for o in warm_ops if o["kind"] == "read"]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["seconds"],
        "warm_pass_s": median([p["seconds"] for p in warm]),
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
    }
    by_name = {}
    for o in warm_ops:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    extra = {"op_tail_percentile": tail_pct, "op_tail_samples": tail_n,
             "warm_passes": len(warm),
             "op_p50_by_name_s": {k: median(v) for k, v in sorted(by_name.items())}}
    if syncs:
        extra["read_after_write_p50_s"] = median(reads)
        extra["ingest_rows_per_s"] = (sum(p.get("store_rows", 0) for p in warm)
                                      / sum(o["seconds"] for o in syncs))
    return e2e, extra


def frame_phases(op):
    """Catalyst phases of the DataFrames an operation built, clipped to its
    construction: a QueryPlanningTracker reports a phase entered more than
    once as one interval from its first start to its last end, which can
    reach into the action."""
    lo, hi = op["start_ms"], op["construct_end_ms"]
    return [{k: (max(a, lo), min(b, hi)) for k, (a, b) in f.items() if min(b, hi) > max(a, lo)}
            for f in op["frame_phases"]]


def _union_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    xs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in xs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


class Index:
    """Listener records keyed by operation group."""

    def __init__(self, result):
        self.jobs_by_group = {}
        stage_owner = {}
        for j in sorted(result["jobs"], key=lambda j: j["id"]):
            self.jobs_by_group.setdefault(j["group"], []).append(j)
            for s in j["stage_ids"]:
                stage_owner.setdefault(s, j)
        self.stages_by_job = {}
        for s in result["stages"]:
            owner = stage_owner.get(s["id"])
            if owner is not None:
                self.stages_by_job.setdefault(owner["id"], []).append(s)
        self.execs_by_group = {}
        for e in result["executions"]:
            self.execs_by_group.setdefault(e["group"], []).append(e)

    def jobs(self, group):
        return self.jobs_by_group.get(group, [])

    def stages(self, group):
        return [s for j in self.jobs(group) for s in self.stages_by_job.get(j["id"], [])]

    def execs(self, group):
        return self.execs_by_group.get(group, [])


def _pass_layers(result, idx, p, cores):
    ops = [o for o in result["ops"] if o["pass"] == p["pass"]]
    stages = [s for o in ops for s in idx.stages(o["group"])]
    jobs = [j for o in ops for j in idx.jobs(o["group"])]
    execs = [e for o in ops for e in idx.execs(o["group"])]
    sync_stages = [s for o in ops if o["kind"] == "sync" for s in idx.stages(o["group"])]

    phase_maps = [e["phases"] for e in execs] + [f for o in ops for f in frame_phases(o)]

    def phase_s(name):
        return sum(ph[name][1] - ph[name][0] for ph in phase_maps if name in ph) / 1000.0

    driver_only = sum(
        (o["end_ms"] - o["construct_end_ms"])
        - _union_ms([(j["start_ms"], j["end_ms"]) for j in idx.jobs(o["group"])],
                    o["construct_end_ms"], o["end_ms"])
        for o in ops) / 1000.0
    n_tasks = sum(s["tasks"] for s in stages)
    mean_task = sum(s["task_ms"] / s["tasks"] for s in stages if s["tasks"])
    store_rows = p.get("store_rows", 0.0)
    appended_b = store_rows * p.get("events_bytes_per_row", 0.0)
    written_b = sum(s["output_b"] for s in sync_stages)
    n_syncs = sum(1 for o in ops if o["kind"] == "sync")
    return {
        "construct_s": sum(o["construct_end_ms"] - o["start_ms"] for o in ops) / 1000.0,
        "plan.analysis_s": phase_s("analysis"),
        "plan.optimization_s": phase_s("optimization"),
        "plan.planning_s": phase_s("planning"),
        "jobs": float(len(jobs)),
        "stages": float(len(stages)),
        "tasks_per_stage": n_tasks / len(stages) if stages else 0.0,
        "stage_overhead_s": sum(max(0.0, s["complete_ms"] - s["submit_ms"] - s["max_task_ms"])
                                for s in stages if s["submit_ms"] >= 0) / 1000.0,
        "task_run_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "task_cpu_s": sum(s["cpu_ms"] for s in stages) / 1000.0,
        "task_gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "cores_busy": sum(s["task_ms"] for s in stages) / 1000.0 / (cores * p["seconds"]),
        "task_skew": sum(s["max_task_ms"] for s in stages) / mean_task if mean_task else 0.0,
        "shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "driver_only_s": driver_only,
        "result_mb": sum(s["result_b"] for s in stages) / MB,
        "cache_mb": max((o["cache_mb"] for o in ops), default=0.0),
        "write_mb": sum(s["output_b"] for s in stages) / MB,
        "write_files": p.get("store_files", 0.0) / n_syncs if n_syncs else 0.0,
        "store_files": p.get("store_files", 0.0),
        "write_amp": written_b / appended_b if appended_b else 0.0,
        "kept_frac": store_rows / p["delivered_rows"] if p.get("delivered_rows") else 0.0,
    }


def per_layer(result, cores):
    idx = Index(result)
    traced = warm_passes(result, traced=True)
    rows = [_pass_layers(result, idx, p, cores) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    untraced = warm_passes(result, traced=False)
    out.update({
        "setup.session_s": result["setup_session_s"],
        "setup.catalog_s": result["setup_catalog_s"],
        "heap_peak_mb": result["heap_peak_mb"],
        "trace_overhead_frac": (median([p["seconds"] for p in traced])
                                / median([p["seconds"] for p in untraced]) - 1.0),
    })
    return out


def spans(result):
    """Spans of the traced passes' operations with their children:
    construct, action, Catalyst phases and Spark jobs (under whichever of
    construct/action they started in), stages under jobs, plus the check
    spans. Each span carries its self time: its duration minus the part
    covered by its children."""
    idx = Index(result)
    traced = {p["pass"] for p in result["passes"] if p["traced"]}
    out = []

    def add(sid, parent, kind, name, a, b, children, p=None):
        dur = b - a
        out.append({"id": sid, "parent": parent, "kind": kind, "name": name, "pass": p,
                    "start_ms": a, "end_ms": b, "dur_ms": dur,
                    "self_ms": dur - _union_ms(children, a, b)})

    for o in (o for o in result["ops"] if o["pass"] in traced):
        g = o["group"]
        parts = {"construct": (o["start_ms"], o["construct_end_ms"]),
                 "action": (o["construct_end_ms"], o["end_ms"])}
        kids = {"construct": [], "action": []}

        def home(t):
            return "construct" if t < o["construct_end_ms"] else "action"

        phase_maps = [(f"exec{e['id']}", e["phases"]) for e in idx.execs(g)]
        phase_maps += [(f"frame{i}", f) for i, f in enumerate(frame_phases(o))]
        for src, phases in phase_maps:
            for ph, (a, b) in phases.items():
                kids[home(a)].append((a, b))
                add(f"{g}/{src}/{ph}", f"{g}/{home(a)}", "plan." + ph, o["name"], a, b, [], o["pass"])
        for j in idx.jobs(g):
            st = idx.stages_by_job.get(j["id"], [])
            kids[home(j["start_ms"])].append((j["start_ms"], j["end_ms"]))
            add(f"job{j['id']}", f"{g}/{home(j['start_ms'])}", "job", o["name"],
                j["start_ms"], j["end_ms"], [(s["submit_ms"], s["complete_ms"]) for s in st], o["pass"])
            for s in st:
                add(f"stage{s['id']}.{s['attempt']}", f"job{j['id']}", "stage", o["name"],
                    s["submit_ms"], s["complete_ms"], [], o["pass"])
        for part, (a, b) in parts.items():
            add(f"{g}/{part}", g, part, o["name"], a, b, kids[part], o["pass"])
        add(g, None, "op", o["name"], o["start_ms"], o["end_ms"], list(parts.values()), o["pass"])
    for c in result["checks"]:
        add("check/" + c["name"], None, "check", c["name"], c["start_ms"], c["end_ms"], [])
    return out


def self_time_by_kind(span_list, result):
    """Self seconds per span kind, per traced warm pass; the median over
    those passes."""
    passes = [p["pass"] for p in warm_passes(result, traced=True)]
    per = {p: {} for p in passes}
    for s in span_list:
        if s["pass"] in per:
            per[s["pass"]][s["kind"]] = per[s["pass"]].get(s["kind"], 0.0) + s["self_ms"] / 1000.0
    kinds = sorted({k for t in per.values() for k in t})
    return {k: median([per[p].get(k, 0.0) for p in passes]) for k in kinds}
