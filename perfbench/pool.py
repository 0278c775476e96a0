#!/usr/bin/env python3
"""Records the query_mix pool: every registry query the mix may draw, with
its family, a fingerprint of its result on the benchmark's fixed query data
and its cost, in perfbench/pool.json.

Usage (from the repository root):
    python3 perfbench/pool.py

Each query runs twice, on two copies of the data at different paths and
with different CPU counts; a query whose fingerprint differs between the
two, or that fails, stays out of the pool. The registry's DuckDB oracle
(Verify plus tools/selfcheck.py) then runs over the same data, and a query
whose result the oracle rejects stays out too. Rerun this only when a change
is meant to alter query results, and say so in the change.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import run

POOL_FILE = os.path.join(run.BENCH, "pool.json")
# covered by the other two workloads, or (q233) ~70 s on 4 CPUs
EXCLUDED = {"q276_monitor_fanout_fanin": "the monitor_cycle workload covers it",
            "q280_stream_ingest_e2e": "the ingest_stream workload covers it",
            "q281_stream_neardup_ingest": "the ingest_stream workload covers it",
            "q233_adamic_adar": "about 70 s on 4 CPUs; q233a runs the same adamicAdarTopK path"}
# a query slower than this on the benchmark data would dominate any mix
QUERY_TIMEOUT_S = 30
# first match wins; the rest are statistics
FAMILIES = [
    ("graph", r"pagerank|triangle|kcore|khop|label_propagation|assortativity|adamic|eigen|dup_clusters"),
    ("similarity", r"(^|_)ann(_|$)|jaccard|minhash|simhash|embedding|semantic|hard_negatives|random_negatives|mmr"
                   r"|bm25|rrf|phash|containment|kmeans|cluster_reps|random_projection|item_recs"),
    ("dedup", r"dedup|neardup|dupes|fingerprint|decon|span|winnowing|survivorship|passage|dup_"),
    ("drift", r"drift|psi|ks_|wasserstein|qq_|page_hinkley|cusum|shift|state_delta|cdc|change_intervals"
              r"|corpus_diff|token_kl|volume_anomaly|trend|mann_kendall|chow|best_break|sprt"),
    ("profile", r"profile|null_counts|histogram|sample_stats|distinct_count|moments|catalog|table_shapes"
                r"|db_summary|largest_table|storage|key_skew|label_profile|zscore|mad_outliers|benford"
                r"|heavy_hitters|hhi|gini|fano|compaction"),
    ("quality", r"quality|constraints|integrity|fk_discovery|pii|scrub|typo|fuzzy|langid|readability"
                r"|label_noise|padding|boilerplate|repetition|funnel|contract|anonymity|diversity"
                r"|closeness|dp_histogram|linkage|leakage|split|kappa|krippendorff|cronbach"),
    ("text", r"token|bpe|gram|vocab|zipf|heaps|collocations|entropy|terms|rake|kneser|good_turing"
             r"|unigram|chunking|pack|chat|audio|mp3|mp4|multimodal|normalize|json|csv|orc|codec"
             r"|export|mixture|quota|overlap"),
    ("timeseries", r"window|rolling|session|streaming|seasonal|forecast|ewma|holt|autocorr|arrival"
                   r"|correlation|asof|interval|daily|hourly|sequence|cohort|transitions|followed_by"
                   r"|seq_triples|latency|retention|activity|kaplan|nelson|survival|log_rank"),
    ("relational", r"^q0\d_|join|topk|argmax|pivot|cube|rollup|union|group_topn|share_of_parent"
                   r"|zorder|rendezvous|salted|target_encoding"),
]


def family(qid):
    name = qid.split("_", 1)[1] if "_" in qid else qid
    for fam, pat in FAMILIES:
        if re.search(pat, name if fam != "relational" else qid):
            return fam
    return "stats"


def jvm(cp, cfg, out_dir, cpus):
    os.makedirs(out_dir, exist_ok=True)
    cfg = dict(cfg, cpus=cpus, work=out_dir)
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    cfg_path, res_path = os.path.join(out_dir, "config.json"), os.path.join(out_dir, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        subprocess.run(["java"] + run.JVM_FLAGS + [f"-Djava.io.tmpdir={out_dir}/tmp", "-cp", cp,
                        "perfbench.Main", cfg_path, res_path],
                       cwd=out_dir, stdout=log, stderr=subprocess.STDOUT, check=True)
    with open(res_path) as f:
        return json.load(f)


def main():
    cp = run.build()
    base = os.path.join(run.WORK, "pool")
    shutil.rmtree(base, ignore_errors=True)
    ids_path = os.path.join(base, "ids.json")
    os.makedirs(base)
    subprocess.run(["java"] + run.JVM_FLAGS + ["-cp", cp, "perfbench.Main", "--list-queries",
                    ids_path], check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(ids_path) as f:
        ids = [q for q in json.load(f) if q not in EXCLUDED]
    passes = []
    for k, cpus in enumerate((os.cpu_count() or 2, max(1, (os.cpu_count() or 2) // 2))):
        inp = os.path.join(base, f"input{k}")
        run.gen.write_fixture_dir(os.path.join(inp, "tables"), run.QUERY_SF, run.QUERY_DATA_SEED)
        with open(os.path.join(inp, "mix.json"), "w") as f:
            json.dump([{"id": q, "family": family(q), "fingerprint": ""} for q in ids], f)
        res = jvm(cp, {"workload": "query_mix", "seed": 0, "seconds": 1e9, "trace": 0,
                       "input": inp, "max_ops": len(ids), "setup_rounds": 1,
                       "query_timeout_s": QUERY_TIMEOUT_S},
                  os.path.join(base, f"work{k}"), cpus)
        passes.append({ids[o["i"]]: o for o in res["ops"]})
    dropped = dict(EXCLUDED)
    for q in ids:
        a, b = passes[0][q], passes[1][q]
        if "fingerprint" not in a or "fingerprint" not in b:
            dropped[q] = "fails on the benchmark data: " + (a["error"] or b["error"])[:200]
        elif a["fingerprint"] != b["fingerprint"]:
            dropped[q] = "result differs between two runs (path, CPU count or order dependent)"

    oracle_check(cp, base, ids, passes, dropped)


def oracle_check(cp, base, ids, passes, dropped):
    """Runs the registry's DuckDB oracle over the same data for the queries
    still in, drops those it rejects, and writes pool.json."""
    tables = os.path.join(base, "input0", "tables")
    verify = os.path.join(base, "verify")
    stable = ",".join(q for q in ids if q not in dropped)
    subprocess.run(["java"] + run.JVM_FLAGS + ["-cp", cp, "graft.Verify", tables, verify, stable],
                   env=dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 2)),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
    verdict_path = os.path.join(base, "selfcheck.json")
    subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "selfcheck.py"), tables,
                    verify, "--only", stable, f"--json={verdict_path}"], stdout=subprocess.DEVNULL)
    with open(verdict_path) as f:
        oracle = json.load(f)
    for q in ids:
        if q not in dropped and q in oracle and oracle[q]["hash_match"] is not True:
            dropped[q] = "the DuckDB oracle rejects its result on the benchmark data"
    kept = [{"id": q, "family": family(q), "fingerprint": passes[0][q]["fingerprint"],
             "cost_s": round(min(passes[0][q]["lat_s"], passes[1][q]["lat_s"]), 3),
             "oracle": "checked" if q in oracle else "none"}
            for q in ids if q not in dropped]
    with open(POOL_FILE, "w") as f:
        json.dump({"data": {"sf": run.QUERY_SF, "seed": run.QUERY_DATA_SEED},
                   "excluded": dropped, "queries": kept}, f, indent=1)
    print(f"{len(kept)} queries in the pool, {len(dropped)} left out "
          f"({sum(1 for q in kept if q['oracle'] == 'checked')} oracle-checked)")


if __name__ == "__main__":
    main()
