#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload monitor_cycle --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark's JVM side from source with sbt when
the sources changed since the last build, generates the workload's inputs
from the seed, runs them in one JVM (perfbench.Main), checks every op's
output, and prints {"correct", "attempted", "failed", "metrics"} as the last
line of standard output. --trace 0 gives the end-to-end metrics, --trace 1
the per-layer ones. Every run's full record, host-noise readings included,
is kept under perfbench/work/runs/ for summary.py.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
sys.path.insert(0, BENCH)

import gen  # noqa: E402

WORKLOADS = ("monitor_cycle", "ingest_stream", "query_mix")
DEADLINE_S = 175  # every run must end within 180 s once built

# Input sizes. The lake and the corpus are small enough that a cycle or a
# delivery takes seconds, so a run holds several; all inputs fit in memory
# and are read from the page cache.
MONITOR_SF = 0.002         # lineitem 12k rows, the other tables in proportion
MONITOR_APPEND_SHARE = 0.01
MONITOR_DRIFT_EVERY = 4
INGEST_DOCS_PER = 300
INGEST_REDELIVER = 0.1
INGEST_MALFORMED = 2
INGEST_COMPACT_EVERY = 8   # compactEvery passed to the program; a replay per period
QUERY_SF = 0.1             # fixed data, so the recorded fingerprints hold
QUERY_DATA_SEED = 20240101
# The heavy queries (q129 18 s, q43 9.5 s, q233a 8.2 s, q184 7.8 s,
# q11 7.6 s, q102 4.4 s cold on 4 CPUs) do not fit a run's time budget.
QUERY_DRAW = 8             # queries per pass, one per cost stratum
QUERY_MAX_COST_S = 0.8     # the sub-second majority; keeps a pass steady across seeds

# -XX:+AlwaysPreTouch touches the whole heap before main. Without it the
# cold unit is the first to touch most heap pages, and on a virtual machine
# that hands freed pages back to its host each first touch is a host page
# fault whose cost follows the host's load; pre-touched, that cost lands
# before set-up and every run's cold unit starts with the same heap.
JVM_FLAGS = [
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# build

def _source_files():
    roots = [(ROOT, ["build.sbt", "project", "src/main"]),
             (BENCH, ["build.sbt", "project", "src"])]
    for base, entries in roots:
        for e in entries:
            p = os.path.join(base, e)
            if os.path.isfile(p):
                yield p
            for d, dirs, files in os.walk(p):
                dirs[:] = [x for x in dirs if x != "target"
                           and not (x == "project" and os.path.basename(d) == "project")]
                for f in sorted(files):
                    if f.endswith((".scala", ".sbt", ".properties", ".java")):
                        yield os.path.join(d, f)


def build():
    """Returns the JVM classpath, compiling first if any source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "next to perfbench/; run from a full checkout")
    h = hashlib.sha256()
    for f in sorted(set(_source_files())):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = open(os.path.join(bdir, "sbt.log"), "w")
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                       text=True, timeout=850)
    log.write(r.stdout)
    log.close()
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {r.returncode}); see {bdir}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------------------
# inputs

def make_inputs(workload, seed, inp):
    if workload == "monitor_cycle":
        gen.monitor_lake(inp, seed, MONITOR_SF, cycles=60,
                         append_share=MONITOR_APPEND_SHARE, drift_every=MONITOR_DRIFT_EVERY)
    elif workload == "ingest_stream":
        gen.deliveries(inp, seed, 60, INGEST_DOCS_PER, INGEST_REDELIVER,
                       INGEST_MALFORMED, INGEST_COMPACT_EVERY)
    else:
        gen.write_fixture_dir(os.path.join(inp, "tables"), QUERY_SF, QUERY_DATA_SEED)
        with open(os.path.join(inp, "mix.json"), "w") as f:
            json.dump(query_mix(seed), f)


def load_pool():
    with open(os.path.join(BENCH, "pool.json")) as f:
        return json.load(f)


def query_mix(seed):
    """The mix: the pool's queries that cost at most QUERY_MAX_COST_S,
    sorted by recorded cost and cut into QUERY_DRAW strata, and the middle
    query of each stratum, in an order the seed shuffles. Drawing a query
    per stratum at random instead made seeds incomparable: a fresh JVM's
    first run of a query costs 1.4 to 3.6 times its recorded cost, and that
    factor differs from query to query."""
    rest = sorted((q for q in load_pool()["queries"] if q["cost_s"] <= QUERY_MAX_COST_S),
                  key=lambda q: (q["cost_s"], q["id"]))
    cut = [round(i * len(rest) / QUERY_DRAW) for i in range(QUERY_DRAW + 1)]
    mix = [rest[(cut[i] + cut[i + 1]) // 2] for i in range(QUERY_DRAW)]
    random.Random(seed).shuffle(mix)
    return mix


# ---------------------------------------------------------------------------
# checks done outside the JVM

def check_ingest(inp, work, ops):
    """Recomputes each delivery's survivors with DuckDB: the program's own
    near-duplicate pair SQL over every document delivered so far, then the
    ingest law delivery by delivery (drop a document that pairs with an
    earlier survivor or with a lower id in its own delivery; a replayed
    document pairs with itself). Marks ops whose corpus partition or
    quarantine count differ."""
    import duckdb
    with open(os.path.join(inp, "deliveries.json")) as f:
        meta = json.load(f)
    docs = {}
    per = []
    for o in ops:
        rows = []
        with open(os.path.join(inp, "stage", meta[o["i"]]["file"])) as f:
            for line in f:
                try:
                    d = json.loads(line)
                except ValueError:
                    continue
                rows.append(d)
                docs[d["doc_id"]] = d["text"]
        per.append(rows)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(docs.items()))
    with open(os.path.join(work, "minhash_pairs_ctes.sql")) as f:
        ctes = f.read()
    adj = {}
    for a, b in con.execute(f"WITH {ctes} SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5").fetchall():
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    survivors = set()
    for o, rows in zip(ops, per):
        ids = {d["doc_id"] for d in rows}
        drop_store = {d for d in ids if d in survivors or adj.get(d, set()) & survivors}
        drop_within = {d for d in ids if any(p in ids and p < d for p in adj.get(d, ()))}
        kept = ids - drop_store - drop_within
        survivors |= kept
        want = {"kept": len(kept), "id_sum": sum(kept), "id_sq": sum(d * d for d in kept),
                "quarantined": meta[o["i"]]["malformed"]}
        x = 0
        for d in kept:
            x ^= int(hashlib.md5(f"{d}|{docs[d]}".encode()).hexdigest()[:15], 16)
        want["xor"] = x
        bad = [f"{k}={o.get(k)} expected {v}" for k, v in want.items() if o.get(k) != v]
        o["docs"] = len(rows)
        if o["ok"] and bad:
            o["ok"] = False
            o["error"] = f"delivery {o['i']}: " + "; ".join(bad)


# ---------------------------------------------------------------------------
# metrics

def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest of these percentiles with at least ten samples beyond it."""
    for p in (99, 95, 90, 80, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def end_to_end(res, gen_s):
    ops = res["ops"]
    cold = [o for o in ops if o["i"] < res["cold_ops"]]
    timed = [o for o in ops if o["i"] >= res["cold_ops"]]
    lat = [o["lat_s"] for o in timed]
    busy = sum(o["lat_s"] + o["cleanup_s"] for o in timed)
    m = {
        "setup_s": gen_s + statistics.median(res["setup_rounds_s"]),
        "cold_s": sum(o["lat_s"] for o in cold),
        "op_s_p50": pct(lat, 50),
        "ops_per_s": len(timed) / busy if busy > 0 else 0.0,
        "heap_retained_mb": res["heap_retained_mb"],
        "success_rate": sum(o["ok"] for o in ops) / len(ops),
    }
    extra = {"op_s_mean": statistics.mean(lat) if lat else 0.0, "timed_ops": len(timed)}
    tp = tail_percentile(len(lat))
    if tp:
        extra[f"op_s_p{tp}"] = pct(lat, tp)
    if "docs" in (timed[0] if timed else {}):
        extra["docs_per_s"] = sum(o["docs"] for o in timed) / busy if busy > 0 else 0.0
    return m, extra


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0.0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_seconds(spans, traces):
    """Per span name: total time minus the part its child spans cover, and
    the number of spans, over the spans of the given ops. A sequential
    pass's spans carry the negated trace id of the op they follow."""
    spans = [s for s in spans if abs(s["trace"]) in traces]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    self_s, count = {}, {}
    for s in spans:
        key = (s["name"], s["trace"] < 0)
        d = s["end_s"] - s["start_s"] - covered(kids.get(s["id"], []))
        self_s[key] = self_s.get(key, 0.0) + d
        count[key] = count.get(key, 0) + 1
    return self_s, count


def timed_traces(res):
    return {o["i"] + 1 for o in res["ops"] if o["i"] >= res["cold_ops"]}


def per_layer(res, names):
    """Every per-layer metric: span self seconds per timed op for the time
    metrics named after a span, the JVM's readings for the rest."""
    traces = timed_traces(res)
    self_s, _ = self_seconds(res["spans"], traces)
    by_name = {}
    for (name, _), v in self_s.items():
        by_name[name] = by_name.get(name, 0.0) + v
    n = max(1, len(traces))
    out = {}
    for m in names:
        if m.endswith("_s") and m[:-2] in by_name:
            out[m] = by_name[m[:-2]] / n
        else:
            out[m] = res["layers"].get(m, 0.0)
    wall = sum(o["lat_s"] for o in res["ops"] if o["i"] + 1 in traces)
    top = sum(s["end_s"] - s["start_s"] for s in res["spans"]
              if s["parent"] == 0 and s["trace"] in traces)
    out["trace.unattributed_share"] = max(0.0, 1.0 - top / wall) if wall > 0 else 0.0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    t_built = time.time()
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(inp)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    make_inputs(a.workload, a.seed, inp)
    gen_s = time.time() - t0

    cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
           "input": inp, "work": work, "cpus": os.cpu_count() or 1}
    cfg_path, res_path = os.path.join(run_dir, "config.json"), os.path.join(run_dir, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    budget = DEADLINE_S - (time.time() - t_built)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                              "perfbench.Main", cfg_path, res_path],
                             cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, budget - 15))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM did not finish in time; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"the JVM exited with {rc}; see {run_dir}/jvm.log")
    with open(res_path) as f:
        res = json.load(f)
    if a.workload == "ingest_stream":
        check_ingest(inp, work, res["ops"])

    e2e, extra = end_to_end(res, gen_s)
    layers = per_layer(res, [m["name"] for m in spec["per_layer"]]) if a.trace else {}
    failed = sum(not o["ok"] for o in res["ops"])
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "cpus": cfg["cpus"], "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
              "end_to_end": e2e, "extra": extra, "per_layer": layers,
              "host": res["host"], "gen_s": gen_s, "setup_rounds_s": res["setup_rounds_s"],
              "jvm_first_ready_s": res["jvm_first_ready_s"], "exhausted": res["exhausted"],
              "cold_ops": res["cold_ops"],
              "ops": [{k: v for k, v in o.items() if k in ("i", "lat_s", "cleanup_s", "cpu_s", "ok", "error", "id", "docs")}
                      for o in res["ops"]]}
    if a.trace:
        record["spans"] = res["spans"]
    rdir = os.path.join(WORK, "runs")
    os.makedirs(rdir, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}.json"
    with open(os.path.join(rdir, name), "w") as f:
        json.dump(record, f)
    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: op {o['i']} failed: {o['error']}", file=sys.stderr)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = {k: v for k, v in (layers if a.trace else e2e).items() if k in units}
    print(json.dumps({"correct": failed == 0, "attempted": len(res["ops"]), "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()}}))


if __name__ == "__main__":
    main()
