"""Seeded input generators for the benchmark workloads.

Every table has the schema of the repository's fixture tables (FIXTURES.md)
and the value distributions they show: uniform keys, a small vocabulary of
words for document text, 5% of documents repeating another document's text
plus " dup", unit-norm 64-dim embeddings. The same seed always gives the
same bytes. Nothing here imports the program; the values the benchmark
checks the program against come from this file or from DuckDB.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["de", "en", "es", "fr", "zh"])
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
WAREHOUSE = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events"]
TS = pa.timestamp("us")


def _ts(base_us, offsets_us):
    return pa.array(base_us + offsets_us, TS)


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, n, key0=0):
    k = np.arange(key0, key0 + n, dtype=np.int64)
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table({
        "c_custkey": k, "c_name": _names("Customer", k),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": seg[rng.integers(0, 5, n)]})


def supplier(rng, n, key0=0):
    k = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({
        "s_suppkey": k, "s_name": _names("Supplier", k),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})


def part(rng, n, key0=0):
    k = np.arange(key0, key0 + n, dtype=np.int64)
    adj = np.array(["blue", "cold", "hot", "large", "new", "red", "small", "old"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "), noun[rng.integers(0, 8, n)])
    return pa.table({
        "p_partkey": k, "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (k % 1000) / 10.0, 2)})


def orders(rng, n, n_cust, key0=0):
    k = np.arange(key0, key0 + n, dtype=np.int64)
    st = np.array(["F", "O", "P"])
    pr = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": k, "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": st[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _ts(_day_us(1995, 1, 1), rng.integers(0, 2404, n) * 86_400_000_000),
        "o_orderpriority": pr[rng.integers(0, 5, n)]})


def lineitem(rng, n, n_orders, n_part, n_supp):
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": flags[rng.integers(0, 3, n)],
        "l_linestatus": status[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_day_us(1995, 1, 2), rng.integers(0, 2499, n) * 86_400_000_000)})


def events(rng, n, n_users, id0=0):
    et = np.array(["click", "error", "purchase", "signup", "view"])
    off = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "ts": _ts(_day_us(2024, 1, 1), off),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": et[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]})


def texts(rng, n):
    lens = rng.integers(10, 101, n)
    w = np.array(WORDS)
    return [" ".join(w[rng.integers(0, len(WORDS), m)]) for m in lens]


def documents(rng, n, id0=0, dup_share=0.05):
    t = texts(rng, n)
    dups = rng.choice(n, int(n * dup_share), replace=False)
    for i in dups:
        t[i] = t[int(rng.integers(0, n))] + " dup"
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids, "text": t,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(s) for s in t], dtype=np.int64)})


def embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def warehouse(rng, sf):
    """The eight star-schema + events tables at scale factor `sf`."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    return {
        "region": region(), "nation": nation(),
        "customer": customer(rng, n_cust), "supplier": supplier(rng, n_supp),
        "part": part(rng, n_part), "orders": orders(rng, n_ord, n_cust),
        "lineitem": lineitem(rng, int(6_000_000 * sf), n_ord, n_part, n_supp),
        "events": events(rng, int(1_000_000 * sf), max(1, int(15_000 * sf)))}


def write_fixture_dir(out, sf, seed):
    """All ten fixture tables, one parquet file each, like the repository's
    fixture directories."""
    rng = np.random.default_rng(seed)
    tabs = warehouse(rng, sf)
    tabs["documents"] = documents(rng, int(50_000 * sf))
    tabs["embeddings"] = embeddings(rng, int(20_000 * sf))
    os.makedirs(out, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, f"{out}/{name}.parquet")
    return {k: t.num_rows for k, t in tabs.items()}


# ---------------------------------------------------------------------------
# monitor_cycle: a lake of eight table directories that grows between cycles

NULLABLE = {  # columns that receive seeded nulls, per table
    "customer": ["c_acctbal", "c_mktsegment"], "supplier": ["s_acctbal"],
    "part": ["p_brand", "p_retailprice"], "orders": ["o_totalprice", "o_orderpriority"],
    "lineitem": ["l_discount", "l_tax", "l_returnflag"], "events": ["value", "props"]}


def _with_nulls(rng, t, name, rate):
    for c in NULLABLE.get(name, []):
        mask = rng.random(t.num_rows) < rate
        arr = t.column(c)
        t = t.set_column(t.schema.get_field_index(c), c,
                         pc.if_else(pa.array(mask), pa.scalar(None, arr.type), arr))
    return t


def _stats(t):
    return {"rows": t.num_rows, "columns": t.column_names,
            "nulls": {c: int(t.column(c).null_count) for c in t.column_names}}


def monitor_lake(out, seed, sf, cycles, append_share, drift_every):
    """Writes the initial lake under `out/tables`, one staged change set per
    cycle under `out/stage/<cycle>`, and `out/plan.json` with the expected
    state of every table after each cycle.

    Cycle c (1-based) first applies its change set: a seeded three of the
    six growing tables get one appended part file each, and one cycle in every
    `drift_every`, starting with the first, rewrites one seeded table as a
    single file with a column added (or, if it already carries the added
    column, dropped). Then the monitors run. Cycle 0 is the initial lake.
    """
    rng = np.random.default_rng(seed)
    tabs = {k: _with_nulls(rng, t, k, 0.02) for k, t in warehouse(rng, sf).items()}
    sizes = {k: t.num_rows for k, t in tabs.items()}
    files = {k: 1 for k in tabs}
    for k, t in tabs.items():
        os.makedirs(f"{out}/tables/{k}.parquet", exist_ok=True)
        pq.write_table(t, f"{out}/tables/{k}.parquet/part-00000.parquet")
    growable = [k for k in WAREHOUSE if k not in ("region", "nation")]
    plan = [{"cycle": 0, "actions": [], "tables": {k: _stats(t) for k, t in tabs.items()},
             "files": dict(files)}]
    for c in range(1, cycles + 1):
        actions = []
        stage = f"{out}/stage/{c:04d}"
        for k in sorted(rng.choice(growable, 3, replace=False)):
            n = max(1, int(sizes[k] * append_share * rng.uniform(0.5, 1.5)))
            new = _gen_like(rng, k, tabs[k], n)
            os.makedirs(f"{stage}/{k}", exist_ok=True)
            f = f"part-{c:05d}.parquet"
            pq.write_table(new, f"{stage}/{k}/{f}")
            tabs[k] = pa.concat_tables([tabs[k], new])
            files[k] += 1
            actions.append({"op": "append", "table": k, "file": f"{k}/{f}"})
        if c % drift_every == 1:
            k = str(rng.choice(growable))
            t = tabs[k]
            if "bench_tag" in t.column_names:
                t = t.drop(["bench_tag"])
            else:
                t = t.append_column("bench_tag", pa.array(
                    rng.integers(0, 1000, t.num_rows).astype(np.int64)))
            tabs[k] = t
            os.makedirs(f"{stage}/rewrite/{k}.parquet", exist_ok=True)
            pq.write_table(t, f"{stage}/rewrite/{k}.parquet/part-00000.parquet")
            files[k] = 1
            actions.append({"op": "rewrite", "table": k, "dir": f"rewrite/{k}.parquet"})
        plan.append({"cycle": c, "actions": actions,
                     "tables": {k: _stats(t) for k, t in tabs.items()},
                     "files": dict(files)})
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan


def _gen_like(rng, name, like, n):
    """n new rows for table `name` with `like`'s current schema."""
    if name == "customer":
        t = customer(rng, n, key0=like.num_rows)
    elif name == "supplier":
        t = supplier(rng, n, key0=like.num_rows)
    elif name == "part":
        t = part(rng, n, key0=like.num_rows)
    elif name == "orders":
        t = orders(rng, n, 1000, key0=like.num_rows)
    elif name == "lineitem":
        t = lineitem(rng, n, 1000, 1000, 100)
    else:
        t = events(rng, n, 1000, id0=like.num_rows)
    t = _with_nulls(rng, t, name, 0.02)
    if "bench_tag" in like.column_names:
        t = t.append_column("bench_tag", pa.array(rng.integers(0, 1000, n).astype(np.int64)))
    return t


# ---------------------------------------------------------------------------
# ingest_stream: JSONL deliveries of a document corpus


def deliveries(out, seed, n, docs_per, redeliver_share, malformed_per, replay_every):
    """Writes `n` JSONL deliveries under `out/stage` and `out/deliveries.json`.

    Each delivery holds `docs_per` documents: fresh ones, plus a fixed share
    re-delivered from earlier deliveries either verbatim or with one word
    changed (both under new ids), plus `malformed_per` unparseable lines.
    The third delivery of every `replay_every` (so one early in every run)
    instead repeats an earlier delivery file byte for byte, the way a
    retried upload arrives.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/stage", exist_ok=True)
    sent = []  # (doc_id, text) of every well-formed line so far
    meta = []
    next_id = 0
    for k in range(n):
        name = f"d{k:05d}.json"
        if k % replay_every == 2:
            src = int(rng.integers(0, k))
            src_name = meta[src]["file"]
            with open(f"{out}/stage/{src_name}", "rb") as f:
                body = f.read()
            with open(f"{out}/stage/{name}", "wb") as f:
                f.write(body)
            meta.append({"file": name, "replay_of": src, "docs": meta[src]["docs"],
                         "malformed": meta[src]["malformed"]})
            continue
        n_re = int(round(docs_per * redeliver_share)) if sent else 0
        n_new = docs_per - n_re
        fresh = documents(rng, n_new, id0=next_id)
        rows = fresh.to_pylist()
        next_id += n_new
        for j in range(n_re):
            _, text = sent[int(rng.integers(0, len(sent)))]
            if j % 2:
                w = text.split(" ")
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
                text = " ".join(w)
            rows.append({"doc_id": next_id, "text": text,
                         "lang": str(LANGS[rng.choice(5, p=LANG_P)]),
                         "source": f"src{next_id % 20}", "n_chars": len(text)})
            next_id += 1
        order = rng.permutation(len(rows))
        lines = [json.dumps(rows[i], separators=(",", ":")) for i in order]
        bad = [f'{{"doc_id": {10_000_000 + k * 10 + i}, "text": unquoted}}'
               for i in range(malformed_per)]
        for b in bad:
            lines.insert(int(rng.integers(0, len(lines) + 1)), b)
        with open(f"{out}/stage/{name}", "w") as f:
            f.write("\n".join(lines) + "\n")
        sent.extend((r["doc_id"], r["text"]) for r in rows)
        meta.append({"file": name, "replay_of": None,
                     "docs": [[r["doc_id"], r["text"]] for r in rows],
                     "malformed": malformed_per})
    with open(f"{out}/deliveries.json", "w") as f:
        json.dump([{k: v for k, v in m.items() if k != "docs"} for m in meta], f)
    return meta
