#!/usr/bin/env python3
"""Layer report: where does a change's saving (or cost) appear?

Usage: python3 perfbench/report.py <parent_runs_dir> <change_runs_dir>

Each directory holds run summaries as `run.py` leaves them in
`perfbench/.runs` (`<workload>-s<seed>-t<trace>.json`), e.g. a copy of that
directory taken after benchmarking the parent commit and one taken after
benchmarking the change. For every workload and every metric (end-to-end
metrics from untraced runs; per-layer metrics and the self time per span
kind, `self.<kind>_s`, from traced runs; plus the failure fraction and the
ingest read/throughput figures printed beside the end-to-end ones) it prints each side's median and quartiles, the number of
runs, and the change/parent ratio of medians together with its base, the
parent median the ratio divides by.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        if "workload" not in r or "metrics" not in r:
            continue
        vals = {k: v["value"] for k, v in r["metrics"].items()}
        if r["trace"] == 0:
            vals["failed_frac"] = r["failed"] / r["attempted"]
            for k in ("read_after_write_p50_s", "ingest_rows_per_s"):
                if k in r.get("extra", {}):
                    vals[k] = r["extra"][k]
        for k, v in r.get("self_time_s", {}).items():
            vals[f"self.{k}_s"] = v
        for k, v in vals.items():
            runs.setdefault((r["workload"], r["trace"]), {}).setdefault(k, []).append(v)
    return runs


def stats(xs):
    if not xs:
        return None
    m = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) >= 2 else (xs[0], xs[0], xs[0])
    return m, q1, q3, len(xs)


def fmt(s):
    return "-" if s is None else f"{s[0]:.4g} [{s[1]:.4g}, {s[2]:.4g}] n={s[3]}"


def main(parent_dir, change_dir):
    bench = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update({"failed_frac": "frac", "read_after_write_p50_s": "s", "ingest_rows_per_s": "1/s"})
    units.update({f"self.{k}_s": "s" for k in ("op", "construct", "action", "job", "stage", "check",
                                               "plan.analysis", "plan.optimization", "plan.planning")})
    parent, change = load(parent_dir), load(change_dir)
    for key in sorted(set(parent) | set(change)):
        wl, trace = key
        print(f"\n== {wl} ({'traced: per-layer' if trace else 'untraced: end-to-end'})")
        print(f"{'metric':24s} {'unit':6s} {'parent median [q1, q3]':34s} {'change median [q1, q3]':34s} ratio (base)")
        p, c = parent.get(key, {}), change.get(key, {})
        for m in sorted(set(p) | set(c), key=lambda k: (k not in units, k)):
            sp, sc = stats(p.get(m, [])), stats(c.get(m, []))
            ratio = (f"{sc[0] / sp[0]:.3f} ({sp[0]:.4g})" if sp and sc and sp[0] else "-")
            print(f"{m:24s} {units.get(m, ''):6s} {fmt(sp):34s} {fmt(sc):34s} {ratio}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    main(sys.argv[1], sys.argv[2])
