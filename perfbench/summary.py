#!/usr/bin/env python3
"""Summarises a set of benchmark runs.

Usage (from the repository root):
    python3 perfbench/summary.py [RUN.json | DIR ...] [--last N]

Reads the run records run.py keeps (default: perfbench/work/runs/) and prints,
per workload, every end-to-end metric with its unit, the median and
quartiles across the untraced runs, the spread (quartile distance over the
median) against the metric's bound from BENCHMARK.json, the ops attempted and
failed, and the host-noise readings. For traced runs it prints the per-layer
self-time table (span time minus the time its child spans cover), span
counts, the share of op wall time no span covers, every per-layer metric,
and the tracing overhead: traced end-to-end medians over untraced ones.
--last N keeps the N newest runs of each workload and trace setting.
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

import run


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def load(paths):
    files = []
    for p in paths or [os.path.join(run.WORK, "runs")]:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        r["_file"] = os.path.basename(f)
        recs.append(r)
    return recs


def self_table(recs):
    """Self seconds and span counts per span name over the traced runs'
    timed ops, with the number of those ops and their wall time."""
    self_s, count, ops, wall = defaultdict(float), defaultdict(int), 0, 0.0
    for r in recs:
        traces = {o["i"] + 1 for o in r["ops"] if o["i"] >= r["cold_ops"]}
        ops += len(traces)
        wall += sum(o["lat_s"] for o in r["ops"] if o["i"] + 1 in traces)
        s, c = run.self_seconds(r["spans"], traces)
        for (name, seq), v in s.items():
            key = name + ("  (sequential pass)" if seq else "")
            self_s[key] += v
            count[key] += c[(name, seq)]
    return self_s, count, ops, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("paths", nargs="*")
    ap.add_argument("--last", type=int, default=None)
    a = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    recs = load(a.paths)
    groups = defaultdict(list)
    for r in recs:
        groups[(r["workload"], r["trace"])].append(r)
    if a.last:
        groups = {k: sorted(v, key=lambda r: r["time"])[-a.last:] for k, v in groups.items()}
    for wl in sorted({w for w, _ in groups}):
        plain, traced = groups.get((wl, 0), []), groups.get((wl, 1), [])
        print(f"== {wl}: {len(plain)} untraced runs, {len(traced)} traced runs")
        if plain:
            seeds = sorted(r["seed"] for r in plain)
            print(f"   seeds {seeds}; cpus {sorted({r['cpus'] for r in plain})}")
            print(f"   {'metric':<22}{'unit':<7}{'q1':>11}{'median':>11}{'q3':>11}"
                  f"{'spread':>9}{'bound/3':>9}")
            for m in spec["end_to_end"]:
                xs = [r["end_to_end"][m["name"]] for r in plain]
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("inf")
                flag = "" if spread < m["bound"] / 3 or m["name"] == "setup_s" else "  WIDE"
                print(f"   {m['name']:<22}{m['unit']:<7}{q1:>11.4f}{med:>11.4f}{q3:>11.4f}"
                      f"{spread:>9.3f}{m['bound'] / 3:>9.3f}{flag}")
            extra = sorted({k for r in plain for k in r.get("extra", {})})
            for k in extra:
                xs = [r["extra"][k] for r in plain if k in r["extra"]]
                q1, med, q3 = quartiles(xs)
                print(f"   {k:<22}{'':<7}{q1:>11.4f}{med:>11.4f}{q3:>11.4f}  (n={len(xs)})")
            att = sum(len(r["ops"]) for r in plain)
            bad = sum(not o["ok"] for r in plain for o in r["ops"])
            print(f"   ops attempted {att}, failed {bad}")
            for r in plain:
                for o in r["ops"]:
                    if not o["ok"]:
                        print(f"     {r['_file']} op {o['i']}: {o['error'][:150]}")
            host = [r["host"] for r in plain]
            drift = [h["cpu_probe_after_s"] / h["cpu_probe_before_s"] for h in host]
            print(f"   host: cpu probe before {statistics.median(h['cpu_probe_before_s'] for h in host):.4f} s, "
                  f"after/before {min(drift):.3f}..{max(drift):.3f}; "
                  f"load1 {min(h['loadavg_before'][0] for h in host):.2f}..{max(h['loadavg_after'][0] for h in host):.2f}; "
                  f"steal {max(h['steal_share'] for h in host):.4f} max, "
                  f"over the cold unit {max(h.get('cold_steal_share', 0.0) for h in host):.4f} max")
        if traced:
            self_s, count, ops, wall = self_table(traced)
            n = max(1, ops)
            print(f"   per-layer self time over {ops} timed ops "
                  f"(op wall {wall / n:.4f} s per op):")
            print(f"   {'span':<48}{'self s/op':>11}{'calls/op':>10}{'share':>8}")
            for k in sorted(self_s, key=lambda k: -self_s[k]):
                print(f"   {k:<48}{self_s[k] / n:>11.4f}{count[k] / n:>10.2f}"
                      f"{self_s[k] / wall if wall else 0:>8.3f}")
            un = [r["per_layer"].get("trace.unattributed_share", 0.0) for r in traced]
            print(f"   op wall left unattributed: {statistics.median(un):.3f} (median share)")
            print(f"   {'per-layer metric':<44}{'unit':<7}{'median':>12}")
            for m in spec["per_layer"]:
                xs = [r["per_layer"].get(m["name"], 0.0) for r in traced]
                print(f"   {m['name']:<44}{m['unit']:<7}{statistics.median(xs):>12.4f}")
            if plain:
                print("   tracing overhead (traced median / untraced median - 1):")
                for m in spec["end_to_end"]:
                    t = statistics.median(r["end_to_end"][m["name"]] for r in traced)
                    u = statistics.median(r["end_to_end"][m["name"]] for r in plain)
                    print(f"     {m['name']:<22}{(t / u - 1) if u else 0:>+9.3f}")
        print()


if __name__ == "__main__":
    main()
