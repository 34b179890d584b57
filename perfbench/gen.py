"""Seeded synthetic inputs for the benchmark.

The tables follow the schemas the registry queries read (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`), with the row
counts and value ranges of the sf0.1 scale. The same seed always gives
the same bytes of table content.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, out, n=5000):
    """Random word sequences; 5% are near-duplicates (an earlier doc plus
    the token `dup`), 0.3% exact copies of an earlier doc."""
    texts = []
    lengths = rng.integers(10, 101, n)
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kind[i] < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, lengths[i])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embedding_matrix(rng, n=2000, d=64):
    """Unit-norm float32 vectors (isotropic Gaussian directions)."""
    x = rng.standard_normal((n, d)).astype(np.float32)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def embeddings(rng, out, n=2000, d=64):
    _write(out, "embeddings", _embedding_cols(embedding_matrix(rng, n, d), 0,
                                              rng.integers(0, 10, n)))


def _embedding_cols(x, first_id, labels):
    return {
        "vec_id": pa.array(np.arange(first_id, first_id + len(x), dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, n_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def olap(rng, out, sf=0.1):
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"], n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": pa.array(rng.choice(["error", "view", "purchase", "signup", "click"], n_ev)),
        "value": pa.array(np.round(np.minimum(rng.exponential(60.0, n_ev), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})


# query_mix runs at sf0.01: its queries are per-query fixed cost either
# way, and the smaller scale gives each run enough samples for a p90.
QMIX_SF = 0.01

# The query_mix list: sub-second registry queries of the event, OLAP,
# document, text, embedding and multimodal families, each with a DuckDB
# oracle. No ann_* query and none of the legacy bench's heavy set.
# text_zipf (2.5 s cold) and emb_centroid_dist (0.65 s warm) are left out
# to fit the run budget; their families keep text_fingerprint and
# emb_norm_stats.
QUERY_MIX = [
    "ev_top_keys", "ev_time_derivation", "q_revenue_delta", "q_distinct_bitmap",
    "doc_exact_dedup", "doc_simhash", "text_fingerprint",
    "emb_norm_stats", "mm_phash", "mm_binary_meta",
]


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _lines(path, xs):
    with open(path, "w") as f:
        f.write("".join(f"{x}\n" for x in xs))


# Base rows and copies in the derived corpus of each workload. The legacy
# bench derives 10 copies of 5000 docs / 2000 vectors; at 4 cores one
# TrainingDataJob.run over that takes ~60 s and one index build pair
# ~130 s, too long for a run that must average ~35 s (see README.md).
TDJ_DOCS, TDJ_COPIES = 300, 4
ANN_VECTORS, ANN_COPIES = 200, 2


def prepare(workload, seed, out):
    """Write the inputs of one workload under `out`."""
    os.makedirs(out, exist_ok=True)
    if workload == "training_job":
        documents(rng(seed, 1), out, TDJ_DOCS)
        r = rng(seed, 2)
        _lines(f"{out}/rotations.txt", [0] + [int(x) for x in r.integers(1, 26, TDJ_COPIES - 1)])
        _lines(f"{out}/doc_stride.txt", [TDJ_DOCS])
    elif workload == "ann_index":
        # copy c of the base vectors (ids shifted by c·ANN_VECTORS) with the
        # signs of a seeded set of dimensions flipped; copy 0 is unchanged
        base = embedding_matrix(rng(seed, 1), ANN_VECTORS)
        r = rng(seed, 2)
        signs = [np.ones(64, np.float32)] + [np.where(r.integers(0, 2, 64) == 1, -1, 1)
                                             .astype(np.float32) for _ in range(ANN_COPIES - 1)]
        copies = [_embedding_cols(base * s, c * ANN_VECTORS, r.integers(0, 10, ANN_VECTORS))
                  for c, s in enumerate(signs)]
        # the index corpus, and a second fresh copy for the traced run's
        # quantizer training (so no in-JVM memo keyed by dir serves it);
        # one file per copy, the layout a Spark union of the copies writes
        for d in ("corpus", "lloyd"):
            os.makedirs(f"{out}/{d}/embeddings.parquet")
            for c, cols in enumerate(copies):
                _write(f"{out}/{d}/embeddings.parquet", f"part-{c:05d}", cols)
    elif workload == "query_mix":
        sf = f"{out}/sf"
        os.makedirs(sf)
        documents(rng(seed, 1), sf, 500)
        embeddings(rng(seed, 2), sf, 500)
        olap(rng(seed, 3), sf, QMIX_SF)
        _lines(f"{out}/qmix_queries.txt", QUERY_MIX)
        r = rng(seed, 4)
        _lines(f"{out}/qmix_order.txt",
               [q for _ in range(400) for q in r.permutation(QUERY_MIX)])
