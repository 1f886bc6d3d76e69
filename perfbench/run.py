#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark JVM and graft's sources on first use (see build.py), then runs
one fresh JVM with `local[N]`, N = the CPUs this process may use, driven by a
single closed-loop client: the next operation is sent only after the
previous one completes. The inputs are the sf0.1 tables in `perfbench/data`
(read only); everything the run writes stays under `perfbench/.work`, and a
summary of each run is kept under `perfbench/.runs` for `report.py`.

`--trace 0` reports the end-to-end metrics; `--trace 1` runs the listener
recorder, writes the run's spans and reports the per-layer metrics.
The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import metrics  # noqa: E402

DATA = os.path.join(BENCH, "data")
RUN_BUDGET_S = 165  # the whole run, build excluded, must end within 180 s

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def jvm(classpath, work, args, deadline, want_ready=True):
    """Runs the benchmark JVM; returns seconds from launch to its `@ready` line."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens + [
        "-Xmx4g", "-Xss4m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graftbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "ab") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work,
                                start_new_session=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        ready = None
        try:
            for line in proc.stdout:
                if line.strip() == b"@ready" and ready is None:
                    ready = time.perf_counter() - t0
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or (want_ready and ready is None):
        with open(log_path, "rb") as fh:
            tail = fh.read()[-3000:].decode("utf-8", "replace")
        fail(f"benchmark JVM exited with {rc} (ready={ready is not None}); log tail:\n{tail}")
    return ready


def make_feed(seed, n_batches, landing):
    """Cuts the `events` rows, in (ts, event_id) order, into `n_batches`
    time-ordered landing batches. The seed sets the cut points (batch sizes
    within ±50 % of the mean), how far each batch reaches back into the
    previous one (redelivery overlap, up to 15 % of a mean batch) and which
    ~3 % of each batch's rows arrive twice within it."""
    import random
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(DATA, "events.parquet"))
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = t.num_rows
    rng = random.Random(seed)
    raw = [0.5 + rng.random() for _ in range(n_batches)]
    cuts = [round(n * sum(raw[:i]) / sum(raw)) for i in range(n_batches + 1)]
    mean = n / n_batches
    os.makedirs(landing)
    for b in range(n_batches):
        lo = cuts[b] if b == 0 else max(0, cuts[b] - rng.randrange(max(1, int(0.15 * mean))))
        rows = list(range(lo, cuts[b + 1]))
        again = sorted(rng.sample(rows, len(rows) // 33))
        pq.write_table(t.take(pa.array(rows + again)), os.path.join(landing, f"b{b:03d}.parquet"))


def check_registry(work, members):
    """Compares each member's checked output with its stored oracle digest."""
    import oracle
    answers = json.load(open(os.path.join(BENCH, "answers.json")))
    con = oracle.connect()
    bad = {}
    for m in members:
        files = glob.glob(os.path.join(work, "check", m, "*.parquet"))
        if not files:
            bad[m] = "no output"
            continue
        got = oracle.digest_query(con, f"SELECT * FROM '{work}/check/{m}/*.parquet'")
        want = answers[m]
        if got != want:
            bad[m] = f"got {got['rows']} rows {got['sha256'][:12]}, want {want['rows']} rows {want['sha256'][:12]}"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(BENCH, "workloads.json")))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {sorted(spec['workloads'])}")
    if not glob.glob(os.path.join(DATA, "*.parquet")):
        fail(f"no input tables in {DATA}")
    w = spec["workloads"][a.workload]
    try:
        classpath = build.ensure_built()
    except RuntimeError as e:
        fail(f"build failed: {e}")

    deadline = time.monotonic() + RUN_BUDGET_S
    work = os.path.join(BENCH, ".work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = cores()
    base = ["--work", work, "--data", DATA, "--cores", str(n),
            "--tables", ",".join(w["tables"])]
    run_args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--members", ",".join(w.get("members", [])),
                "--min-warm", str(w["min_warm_passes"])] + base
    if w.get("batches"):
        make_feed(a.seed, w["batches"], os.path.join(work, "landing"))
    t_main = time.monotonic()
    setup_s = jvm(classpath, work, run_args, deadline)
    result = json.load(open(os.path.join(work, "result.json")))
    print(f"perfbench: benchmark JVM {time.monotonic() - t_main:.1f} s, of which "
          + ", ".join(f"{k} {v:.1f} s" for k, v in result["phases_s"].items()), file=sys.stderr)

    # correctness: errors during timed operations, failed invariants, and
    # registry outputs that differ from the stored oracle answers. A failed
    # check fails every operation it covers.
    ops = result["ops"]
    failed = {id(o) for o in ops if o["error"] is not None}
    problems = [f"{o['name']} (pass {o['pass']}): {o['error']}" for o in ops if o["error"] is not None]
    for c in result["checks"]:
        if not c["ok"]:
            problems.append(f"check {c['name']}: {c['message']}")
            if c["name"].startswith("pass-"):
                p = int(c["name"][5:])
                failed |= {id(o) for o in ops if o["pass"] == p}
            elif c["name"] == "reads":
                failed |= {id(o) for o in ops if o["pass"] == 0}
            else:
                failed |= {id(o) for o in ops if o["name"] == c["name"]}
    if w.get("members"):
        for m, why in check_registry(work, w["members"]).items():
            problems.append(f"oracle {m}: {why}")
            failed |= {id(o) for o in ops if o["name"] == m}
    attempted = len(ops)
    n_failed = len(failed)

    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": n,
               "attempted": attempted, "failed": n_failed, "problems": problems}
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update({"failed_frac": "frac", "read_after_write_p50_s": "s", "ingest_rows_per_s": "1/s"})
    reported = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    runs = os.path.join(BENCH, ".runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    for p in problems:
        print("FAILED", p)
    if a.trace == 0:
        values, extra = metrics.end_to_end(result, setup_s)
        summary["extra"] = extra
        print(f"{a.workload} seed={a.seed} cores={n} passes=1 cold + {extra['warm_passes']} warm "
              f"attempted={attempted} failed={n_failed}")
        print("pass seconds: " + ", ".join(f"{p['pass']}: {p['seconds']:.3f}" for p in result["passes"]))
        shown = dict(values, failed_frac=n_failed / attempted)
        shown.update({k: extra[k] for k in ("read_after_write_p50_s", "ingest_rows_per_s") if k in extra})
        for k, v in shown.items():
            note = (f"  (p{extra['op_tail_percentile']:.1f} of {extra['op_tail_samples']} warm samples)"
                    if k == "op_tail_s" else "")
            print(f"{k:24s} {v:12.6g} {units[k]}{note}")
    else:
        values = metrics.per_layer(result, n)
        sp = metrics.spans(result)
        with open(os.path.join(runs, name + ".spans.jsonl"), "w") as fh:
            for s in sp:
                fh.write(json.dumps(s) + "\n")
        summary["self_time_s"] = metrics.self_time_by_kind(sp, result)
        print(f"{a.workload} seed={a.seed} traced: spans in {os.path.relpath(runs, ROOT)}/{name}.spans.jsonl; "
              f"tracing overhead {values['trace_overhead_frac'] * 100:+.1f}% of an untraced warm pass")
        for k, v in sorted(summary["self_time_s"].items()):
            print(f"self time per traced warm pass, {k}: {v:.3f} s")

    summary["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in reported}
    with open(os.path.join(runs, name + ".json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
                      "metrics": summary["metrics"]}))


if __name__ == "__main__":
    main()
