"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. The tables mirror the schemas and value
families of the engine's harness tables (see `graft.Tables.meta`), at
sf0.002 to sf0.01 sizes (the cold passes this benchmark measures are
codegen and JIT bound, not scan bound): one parquet file per table, one
row group, snappy, timestamps as `timestamp[us]` without a zone.

Layout under `<cache>/<workload>/<seed>/`:

- testgen_quickstart: `snap-NN/{customer,events,lineitem,orders}.parquet`.
  Each snapshot is a seeded ~85% row subset of one seeded universe. The
  subset always keeps the rows that carry the facts
  `graft.quality.Quickstart.Config` pins (one shipdate per day, planted
  duplicate values, every list-of-values member), so every snapshot
  generates the same (column, test_type) set while its row counts and
  statistics change.
- obs_stream_monitor: `slices/slice-NNNN.parquet`, time-advancing event
  slices (disjoint event ids, event time moving forward slice by slice).
- obs_stream_monitor also gets `snap-NN/{documents,embeddings}.parquet`,
  the curated corpus its monitor passes check. Each snapshot
  decorrelates the base corpus the way `graft.tools.GenScale` does: a
  seeded word permutation per document and a seeded rotation of every
  embedding, so near-duplicate structure is kept while shingle sets and
  vectors change.

`manifest.json` beside the files records row and byte counts per file.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TESTGEN_SNAPSHOTS = 4
# universe rows of customer, orders, lineitem, events
TESTGEN_ROWS = (300, 3000, 12000, 2400)
SHIP_DAYS = 400
OBS_SLICES = 40
OBS_SLICE_EVENTS = 100
OBS_SLICE_SECONDS = 4 * 3600
LLM_SNAPSHOTS = 4
LLM_DOCS = 500
LLM_DIM = 64

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

US = np.int64(1_000_000)
DAY_US = 86400 * US


def ts_us(base: str, offsets_us) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + np.asarray(offsets_us, dtype=np.int64),
                    type=pa.timestamp("us"))


def write(path: str, cols: dict) -> dict:
    table = pa.table(cols)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy",
                   row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def plant_dups(rng, vals, n_pairs):
    """Copy a value onto another row so a money column is never unique."""
    idx = rng.choice(len(vals), size=2 * n_pairs, replace=False)
    vals[idx[n_pairs:]] = vals[idx[:n_pairs]]
    return set(idx.tolist())


# ---- testgen_quickstart ----------------------------------------------------

def testgen_universe(rng):
    n_c, n_o, n_l, n_e = TESTGEN_ROWS
    core = {}
    # customer
    acct = money(rng, n_c, -999.99, 9999.99)
    core["customer"] = plant_dups(rng, acct, 20)
    seg = rng.integers(0, 5, n_c)
    seg[:5] = np.arange(5)
    core["customer"] |= set(range(5))
    customer = {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": acct,
        "c_mktsegment": [SEGMENTS[i] for i in seg],
    }
    # orders
    price = money(rng, n_o, 1000.0, 500000.0)
    core["orders"] = plant_dups(rng, price, 20)
    status = rng.integers(0, 3, n_o)
    status[:3] = np.arange(3)
    core["orders"] |= set(range(3))
    order_days = rng.integers(0, 2400, n_o)
    orders = {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in status],
        "o_totalprice": price,
        "o_orderdate": ts_us("1995-01-01", order_days * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
    }
    # lineitem: the first `span` rows cover every ship day once (daily
    # density), quantities are whole numbers 1..50
    span = SHIP_DAYS
    ship = rng.integers(0, span, n_l)
    ship[:span] = np.arange(span)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    qty[span:span + 50] = np.arange(1, 51)
    flags = rng.integers(0, 3, n_l)
    flags[span + 50:span + 53] = np.arange(3)
    core["lineitem"] = set(range(span + 53))
    ext = money(rng, n_l, 900.0, 105000.0)
    lineitem = {
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in flags],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": ts_us("1995-01-02", ship * DAY_US),
    }
    # events: 30 days, unique microsecond timestamps
    offs = np.sort(rng.choice(30 * 86400 * 1_000_000, n_e, replace=False))
    etype = rng.integers(0, 5, n_e)
    etype[:5] = np.arange(5)
    val = money(rng, n_e, 0.5, 150.0)
    core["events"] = plant_dups(rng, val, 20) | set(range(5))
    events = {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts_us("2024-01-01", offs),
        "user_id": rng.integers(0, 300, n_e).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in etype],
        "value": val,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    }
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "events": events}, core


def subset(cols: dict, keep: np.ndarray) -> dict:
    out = {}
    for k, v in cols.items():
        if isinstance(v, pa.Array):
            out[k] = v.take(pa.array(keep))
        elif isinstance(v, list):
            out[k] = [v[i] for i in keep]
        else:
            out[k] = v[keep]
    return out


def gen_testgen(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    uni, core = testgen_universe(rng)
    files = {}
    for s in range(TESTGEN_SNAPSHOTS):
        srng = np.random.default_rng([seed, 2, s])
        for name, cols in uni.items():
            n = len(next(iter(cols.values())))
            frac = srng.uniform(0.84, 0.86)
            mask = srng.random(n) < frac
            mask[list(core[name])] = True
            rel = f"snap-{s:02d}/{name}.parquet"
            files[rel] = write(os.path.join(out, rel),
                               subset(cols, np.flatnonzero(mask)))
    return files


# ---- obs_stream_monitor ----------------------------------------------------

def gen_obs(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    files = gen_llm(out, seed)
    n = OBS_SLICE_EVENTS
    for i in range(OBS_SLICES):
        base = i * OBS_SLICE_SECONDS * 1_000_000
        offs = np.sort(rng.choice(OBS_SLICE_SECONDS * 1_000_000, n,
                                  replace=False)) + base
        rel = f"slices/slice-{i:04d}.parquet"
        files[rel] = write(os.path.join(out, rel), {
            "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
            "ts": ts_us("2024-01-01", offs),
            "user_id": rng.integers(0, 120, n).astype(np.int64),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
            "value": money(rng, n, 0.5, 150.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    return files


# ---- the curated corpus (checked by obs_stream_monitor) -------------------

def llm_base(rng):
    """Base corpus: random word documents with planted near and exact
    duplicates; embeddings clustered by label with the same planted
    pairs close in cosine."""
    docs = []
    for _ in range(LLM_DOCS):
        k = int(rng.integers(10, 80))
        docs.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), k)])
    centers = rng.normal(size=(10, LLM_DIM))
    labels = rng.integers(0, 10, LLM_DOCS)
    vecs = centers[labels] * 0.35 + rng.normal(size=(LLM_DOCS, LLM_DIM))
    # near duplicates: copy a document with a few word edits and move its
    # vector next to the source's
    for dst in rng.choice(np.arange(1, LLM_DOCS), 60, replace=False):
        src = int(rng.integers(0, dst))
        words = list(docs[src])
        for _ in range(max(1, len(words) // 15)):
            words[int(rng.integers(0, len(words)))] = \
                VOCAB[int(rng.integers(0, len(VOCAB)))]
        docs[dst] = words
        vecs[dst] = vecs[src] + rng.normal(scale=0.08, size=LLM_DIM)
        labels[dst] = labels[src]
    # paraphrase candidates: close vectors, unrelated texts, so the
    # lexical confirmation rejects part of the LSH candidates
    for dst in rng.choice(np.arange(1, LLM_DOCS), 30, replace=False):
        src = int(rng.integers(0, dst))
        vecs[dst] = vecs[src] + rng.normal(scale=0.08, size=LLM_DIM)
    return docs, vecs, labels


def gen_llm(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 4])
    docs, vecs, labels = llm_base(rng)
    files = {}
    for s in range(LLM_SNAPSHOTS):
        srng = np.random.default_rng([seed, 5, s])
        # GenScale-style decorrelation: one seeded permutation of the
        # vocabulary per snapshot keeps duplicate structure but changes
        # every shingle, and one random rotation moves every vector
        perm = srng.permutation(len(VOCAB))
        remap = {w: VOCAB[perm[i]] for i, w in enumerate(VOCAB)}
        texts = [" ".join(remap[w] for w in d) for d in docs]
        q, _ = np.linalg.qr(srng.normal(size=(LLM_DIM, LLM_DIM)))
        rot = (vecs @ q).astype(np.float32)
        rot /= np.linalg.norm(rot, axis=1, keepdims=True)
        ids = np.arange(LLM_DOCS, dtype=np.int64)
        files[f"snap-{s:02d}/documents.parquet"] = write(
            os.path.join(out, f"snap-{s:02d}/documents.parquet"), {
                "doc_id": ids,
                "text": texts,
                "lang": [LANGS[k] for k in srng.integers(0, len(LANGS),
                                                        LLM_DOCS)],
                "source": [f"src{k}" for k in srng.integers(0, 20,
                                                          LLM_DOCS)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            })
        files[f"snap-{s:02d}/embeddings.parquet"] = write(
            os.path.join(out, f"snap-{s:02d}/embeddings.parquet"), {
                "vec_id": ids,
                "embedding": pa.array(list(rot), type=pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            })
    return files


GENERATORS = {
    "testgen_quickstart": gen_testgen,
    "obs_stream_monitor": gen_obs,
}


def ensure(cache: str, workload: str, seed: int) -> tuple:
    """Generate (once) and return (directory, manifest)."""
    out = os.path.join(cache, workload, str(seed))
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return out, json.load(f)
    files = GENERATORS[workload](out, seed)
    manifest = {"workload": workload, "seed": seed, "files": files}
    with open(man_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(man_path + ".tmp", man_path)
    return out, manifest

