"""Seeded inputs for the benchmark.

Base tables mirror the schemas `graft.sources.Tables` reads (the TPC-H-ish
star schema plus `events`, `documents`, `embeddings`) and are generated from
a fixed table seed, so every run scans the same data. The run seed then
chooses everything a workload varies: the catalog query order, the stream's
out-of-order displacement, the index workload's held-out slices, forget ids,
query terms and probe vectors. graft only ever sees the files written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
TABLE_SEED = 42
SF = 0.01  # scale factor of every base table
VOCAB = ("a the batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "value vector window agg").split()
DIM = 64
DAY_US = 86_400_000_000


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _us(datestr):
    return int(np.datetime64(datestr, "us").astype(np.int64))


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _days(rng, lo, hi, n):
    a, b = _us(lo) // DAY_US, _us(hi) // DAY_US
    return rng.integers(a, b + 1, n) * DAY_US


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    langs = rng.choice(["en", "zh", "de", "fr", "es"], n, p=[.41, .15, .15, .145, .145])
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def base_tables(sf, out):
    """All ten tables at scale factor `sf` under `out` (idempotent)."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([TABLE_SEED, int(sf * 1000)])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["blue", "cold", "hot", "large", "new", "old", "red", "small"], n_part),
                rng.choice(["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"],
                           n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                                 n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li))}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(np.sort(rng.integers(_us("2024-01-01"), _us("2024-01-31"), n_ev))),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


# ---------------------------------------------------------------------------
# Per-seed workload inputs
# ---------------------------------------------------------------------------

STREAM_RATE = 4000          # events per second, open loop
STREAM_TICK_MS = 100        # one landing file per tick
STREAM_DISPLACED = 0.05     # share of events moved out of order
STREAM_MAX_SHIFT = 200      # positions an out-of-order event may move back
STREAM_DELAY_S = 6 * 3600   # watermark delay (covers the largest shift)
STREAM_REPLICAS = 4
BEHAVIOR = {"view": "pv", "click": "cart", "purchase": "buy", "signup": "fav", "error": "err"}


# eight short queries (planning and scheduling bound), then eight heavy
# ones (executor compute, `functions` kernels and shuffle bound)
CATALOG = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue", "hot_items_topn",
    "unique_visitors", "sessionize", "e_funnel_relaxed", "e_asof_enrich",
    "t_minhash_lsh", "t_clean_corpus", "t_semantic_dedup", "t_contamination",
    "v_cascade_search", "v_ivf_recall_trained", "e_pagerank", "e_communities"]


def catalog_inputs(rng, out):
    orders = [[CATALOG[i] for i in rng.permutation(len(CATALOG))] for _ in range(64)]
    with open(os.path.join(out, "catalog.json"), "w") as f:
        json.dump({"queries": CATALOG, "orders": orders}, f)


def stream_inputs(rng, base, seconds, out):
    """The event sequence the generator thread lands, in emission order.

    `events` rows map to UserBehavior (behavior from event_type, item from
    props) and AdClickEvent (clicks only, ad = item % 3), replicated with
    shifted user ids; a seeded share of events is moved later in the
    sequence by up to STREAM_MAX_SHIFT positions, which stays well inside
    the watermark delay so no event is ever late.
    """
    ev = pq.read_table(os.path.join(base, "events.parquet")).to_pandas()
    reps = max(STREAM_REPLICAS, int(np.ceil(STREAM_RATE * (seconds + 2) / len(ev))))
    ts = ev["ts"].astype("int64").to_numpy() // 1000 // 1000
    item = ev["props"].str.extract(r"(\d+)")[0].astype(np.int64).to_numpy()
    n = len(ev) * reps
    rep = np.repeat(np.arange(reps), len(ev))
    idx = np.tile(np.arange(len(ev)), reps)
    order = np.lexsort((rep, ts[idx]))  # event-time order, replicas interleaved
    rep, idx = rep[order], idx[order]
    key = np.arange(n, dtype=np.float64)
    moved = rng.random(n) < STREAM_DISPLACED
    key[moved] += rng.integers(1, STREAM_MAX_SHIFT + 1, int(moved.sum())) + 0.5
    emit = np.argsort(key, kind="stable")
    rep, idx = rep[emit], idx[emit]
    t = ts[idx]
    assert (np.maximum.accumulate(t)[:-1] - STREAM_DELAY_S < t[1:]).all(), "late event"
    etype = ev["event_type"].to_numpy()[idx]
    table = pa.table({
        "pos": np.arange(n, dtype=np.int64),
        "event_id": (ev["event_id"].to_numpy()[idx] + rep * 10_000_000).astype(np.int64),
        "user_id": (ev["user_id"].to_numpy()[idx] + rep * 1_000_000).astype(np.int64),
        "item_id": item[idx],
        "category_id": (item[idx] % 10).astype(np.int32),
        "behavior": [BEHAVIOR[e] for e in etype],
        "is_click": etype == "click",
        "ad_id": item[idx] % 3,
        "ts": t.astype(np.int64),
    })
    _write(table, os.path.join(out, "stream_events.parquet"))
    with open(os.path.join(out, "stream.json"), "w") as f:
        json.dump({"rate": STREAM_RATE, "tick_ms": STREAM_TICK_MS, "delay_s": STREAM_DELAY_S,
                   "displaced": int(moved.sum()), "events": n, "replicas": int(reps),
                   "top_n": 5, "size_s": 3600, "slide_s": 300, "threshold": 2}, f)


def index_inputs(rng, base, out):
    """Initial 60% slices, per-round held-out appends and forget ids, and
    the serve requests (BM25 terms, probe vectors, hybrid keep pairs)."""
    n_doc = pq.read_metadata(os.path.join(base, "documents.parquet")).num_rows
    n_vec = pq.read_metadata(os.path.join(base, "embeddings.parquet")).num_rows
    pinned = 16  # IVF-PQ centroids and codewords are ids < 16: never held out or forgotten
    per_round = 6  # rounds the held-out 40% is cut into

    def split(n):
        ids = rng.permutation(np.arange(pinned, n))
        k = int(0.6 * n) - pinned
        return sorted(range(pinned)) + sorted(ids[:k].tolist()), ids[k:].tolist()

    docs0, doc_pool = split(n_doc)
    vecs0, vec_pool = split(n_vec)
    live_d, live_v = set(docs0), set(vecs0)
    rounds = []
    per_d, per_v = len(doc_pool) // per_round, len(vec_pool) // per_round
    for r in range(per_round):
        add_d = doc_pool[r * per_d:(r + 1) * per_d]
        add_v = vec_pool[r * per_v:(r + 1) * per_v]
        live_d |= set(add_d)
        live_v |= set(add_v)
        fd = rng.choice(sorted(live_d - set(range(pinned))), per_d // 2, replace=False).tolist()
        fv = rng.choice(sorted(live_v - set(range(pinned))), per_v // 2, replace=False).tolist()
        live_d -= set(fd)
        live_v -= set(fv)
        rounds.append({"append_docs": add_d, "append_vecs": add_v,
                       "forget_docs": fd, "forget_vecs": fv})
    probes = rng.standard_normal((4, DIM)).astype(np.float32)
    probes /= np.linalg.norm(probes, axis=1, keepdims=True)
    requests = [{"terms": rng.choice(VOCAB[2:], 3, replace=False).tolist(),
                 "langs": rng.choice(["en", "zh", "de", "fr", "es"], 2, replace=False).tolist()}
                for _ in range(len(probes))]
    _write(pa.table({"query_id": np.arange(len(probes), dtype=np.int64),
                     "embedding": pa.array(list(probes), type=pa.list_(pa.float32()))}),
           os.path.join(out, "probes.parquet"))
    with open(os.path.join(out, "index.json"), "w") as f:
        json.dump({"docs0": docs0, "vecs0": vecs0, "rounds": rounds, "requests": requests,
                   "k": 10}, f)


def workload_inputs(workload, seed, seconds, data_root, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    base = base_tables(SF, os.path.join(data_root, f"v{GEN_VERSION}-sf{SF}"))
    if workload == "catalog_mix":
        catalog_inputs(rng, out)
    elif workload == "event_stream":
        stream_inputs(rng, base, seconds, out)
    else:
        index_inputs(rng, base, out)
    return base
