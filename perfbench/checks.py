"""Output checks of the benchmark: each workload's results are compared
with an oracle built outside graft (DuckDB, numpy, the generator's
ledger). test_checks.py exercises these on hand-built inputs.
"""
import json
import os
import re
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

# ----------------------------------------------------------- training_job

# TrainingDataJob output rows per seed, as the seed commit produced them
# (identical in every run of a seed).
TDJ_COUNTS = {1: 75, 2: 30, 3: 31, 4: 38, 5: 42, 6: 42, 7: 40, 8: 35, 9: 37, 10: 60}


def expected_tdj_count(seed):
    return TDJ_COUNTS.get(seed)


def tdj_count(out):
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/**/*.parquet')").fetchone()[0]


def tdj_output(corpus, out):
    """Invariants of a TrainingDataJob output: unique doc_ids, each one
    from the input, and `pos` dense from 1 within every shard (the
    documented layout: positions count over a shard's rows of all splits)."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW o AS SELECT * FROM read_parquet('{out}/**/*.parquet', "
            "hive_partitioning = true)")
    con.sql(f"CREATE VIEW i AS SELECT doc_id FROM read_parquet('{corpus}/*.parquet')")
    problems = []
    dup = con.sql("SELECT count(*) - count(DISTINCT doc_id) FROM o").fetchone()[0]
    if dup:
        problems.append(f"{dup} repeated doc_ids in {out}")
    stray = con.sql("SELECT count(*) FROM o ANTI JOIN i USING (doc_id)").fetchone()[0]
    if stray:
        problems.append(f"{stray} output doc_ids not in the input")
    gaps = con.sql("""SELECT count(*) FROM (
        SELECT shard, min(pos) lo, max(pos) hi, count(*) n, count(DISTINCT pos) d
        FROM o GROUP BY shard) WHERE lo <> 1 OR hi <> n OR d <> n""").fetchone()[0]
    if gaps:
        problems.append(f"{gaps} shards with non-dense pos")
    return problems


# -------------------------------------------------------------- ann_index

def corpus_vectors(corpus):
    """vec_id and embedding of every vector in an index corpus dir."""
    t = pq.read_table(f"{corpus}/embeddings.parquet").to_pandas()
    return t.vec_id.values, np.stack(t.embedding.values).astype(np.float64)


def exact_topk_of(ids, x, k, n_queries):
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    out = {}
    for q in range(n_queries):
        qi = int(np.nonzero(ids == q)[0][0])
        cos = xn @ xn[qi]
        cos[qi] = -np.inf
        out[q] = [int(ids[j]) for j in np.argsort(-cos, kind="stable")[:k]]
    return out


def recall_at_k(hits, exact, k):
    """Mean over queries of |returned ∩ exact top-k| / k; `hits` holds
    [q_id, vec_id] pairs, a query's own id is ignored."""
    got = {}
    for q, v in hits:
        if v != q:
            got.setdefault(q, set()).add(v)
    return float(np.mean([len(got.get(q, set()) & set(e[:k])) / k for q, e in exact.items()]))


def ann_problems(calls, ids, k, n_queries=8):
    """Problems in the hits of the search calls: every query answered,
    at most k hits each, no repeated hit, only corpus ids, and every call
    of a kind returning the same hits (the index does not change)."""
    problems, first = [], {}
    ids = set(int(i) for i in ids)
    for n, c in enumerate(calls):
        hits = [tuple(h) for h in c["hits"]]
        per_q = {}
        for q, v in hits:
            per_q.setdefault(q, []).append(v)
        why = []
        if sorted(per_q) != list(range(n_queries)):
            why.append(f"answered queries {sorted(per_q)}")
        if any(len(vs) > k for vs in per_q.values()):
            why.append(f"more than {k} hits for a query")
        if len(set(hits)) != len(hits):
            why.append("repeated hits")
        if any(v not in ids for _, v in hits):
            why.append("ids outside the corpus")
        if sorted(hits) != first.setdefault(c["kind"], sorted(hits)):
            why.append(f"hits differ from the first {c['kind']} call")
        if why:
            problems.append(f"search call {n} ({c['kind']}): " + "; ".join(why))
    return problems


# -------------------------------------------------------------- query_mix

def oracle(check_py, dump, sf):
    """Run scripts/check.py (the repo's DuckDB comparison) over the
    dumped query results; name → passed."""
    r = subprocess.run([sys.executable, check_py, dump, sf], capture_output=True, text=True,
                       timeout=170)
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        names = json.load(f)
    verdict = {n: False for n in names}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m and m.group(2) in verdict:
            verdict[m.group(2)] = m.group(1) == "PASS"
    return verdict


# -------------------------------------------------------------- kes_watch

def pct(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-p * len(s) // 100) - 1))]


def read_ledger(path):
    """kube_fake.py's ledger: offered items, phase marks, and the keys
    graft must emit exactly once (first occurrences and new
    resourceVersions; never a re-delivery or a timestamp-less item)."""
    items, marks = [], {}
    with open(path) as f:
        for line in f:
            if not line.endswith("\n"):
                break  # a line still being written
            e = json.loads(line)
            if "key" in e:
                items.append(e)
            else:
                marks[e["phase"]] = e
    expected = {e["key"]: e for e in items if e["kind"] in ("first", "bump")}
    return {"items": items, "marks": marks, "expected": expected}


def sink_commits(out):
    """Output file name → commit time (s) of the first batch whose sink
    log (`_spark_metadata/<batch>`, possibly `.compact`) lists it."""
    logdir = os.path.join(out, "_spark_metadata")
    if not os.path.isdir(logdir):
        return {}
    batches = sorted((int(f.split(".")[0]), f) for f in os.listdir(logdir)
                     if f.split(".")[0].isdigit())
    seen = {}
    for _, f in batches:
        path = os.path.join(logdir, f)
        t = os.stat(path).st_mtime_ns / 1e9
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                name = os.path.basename(json.loads(line)["path"])
                seen.setdefault(name, t)
    return seen


def kes_emitted(out):
    """uid:resourceVersion → commit time of each output line with it."""
    got = {}
    for name, t in sink_commits(out).items():
        with open(os.path.join(out, name)) as f:
            for line in f:
                md = json.loads(line)["kubernetes_event"]["metadata"]
                got.setdefault(f"{md.get('uid', '')}:{md.get('resourceVersion', '')}", []).append(t)
    return got


def kes_failed(ledger, emitted):
    """Expected keys not emitted + extra emissions (repeats, or keys that
    must be suppressed)."""
    exp = ledger["expected"]
    missing = sum(1 for k in exp if k not in emitted)
    extra = sum(len(ts) - (1 if k in exp else 0) for k, ts in emitted.items())
    return missing + extra


def kes_verdict(ledger, emitted, metrics):
    """Problems found comparing KesMain's output and counters with the ledger."""
    exp, items = ledger["expected"], ledger["items"]
    problems = []
    missing = [k for k in exp if k not in emitted]
    if missing:
        problems.append(f"{len(missing)} expected keys never emitted, e.g. {missing[:3]}")
    repeated = [k for k, ts in emitted.items() if len(ts) > 1]
    if repeated:
        problems.append(f"{len(repeated)} keys emitted more than once, e.g. {repeated[:3]}")
    stray = [k for k in emitted if k not in exp]
    if stray:
        problems.append(f"{len(stray)} suppressed or unknown keys emitted, e.g. {stray[:3]}")
    dups = sum(1 for e in items if e["kind"] == "dup")
    timeless = sum(1 for e in items if e["kind"] == "missing")
    for name, want in (("graft_cache_hits_total", dups), ("graft_cache_misses_total", len(exp)),
                       ("graft_time_missing_total", timeless)):
        if metrics.get(name) != want:
            problems.append(f"{name} = {metrics.get(name)}, ledger says {want}")
    return problems


def kes_list_eps(ledger, emitted, phase):
    """LIST throughput of `phase` ("list" or "relist"): its item count over
    LIST served → commit of its last key (0 when it was never served or
    none of it emitted)."""
    keys = [k for k, e in ledger["expected"].items() if e["phase"] == phase]
    done = [min(emitted[k]) for k in keys if k in emitted]
    served = ledger["marks"].get(f"{phase}_served")
    if not done or served is None:
        return 0.0
    return served["n"] / (max(done) - served["at"])


def kes_latencies(ledger, emitted, since=0.0):
    """WATCH key due at or after `since` → ms from its scheduled send time
    to the commit of its output line (None when never emitted)."""
    return {k: ((min(emitted[k]) - e["due"]) * 1000 if k in emitted else None)
            for k, e in ledger["expected"].items() if e["phase"] == "watch" and e["due"] >= since}


def kes_layers(ckpt, eventlog):
    """Micro-batch figures from the checkpoint (offsets/N → commits/N
    mtimes, offsets/N contents) and the Spark event log's progress."""
    def mtime(p):
        return os.stat(p).st_mtime_ns / 1e9

    def end_offset(p):
        with open(p) as f:
            return int(f.read().splitlines()[-1])

    offs = sorted(int(f) for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit())
    batch_ms, sizes, prev = [], [], 0
    for n in offs:
        o, c = os.path.join(ckpt, "offsets", str(n)), os.path.join(ckpt, "commits", str(n))
        end = end_offset(o)
        if os.path.exists(c) and end > prev:
            batch_ms.append((mtime(c) - mtime(o)) * 1000)
            sizes.append(end - prev)
        prev = end
    progress = []
    for d, _, fs in os.walk(eventlog):
        for f in fs:
            with open(os.path.join(d, f)) as fh:
                for line in fh:
                    if "QueryProgressEvent" in line:
                        p = json.loads(line)["progress"]
                        if sum(x.get("numInputRows", 0) for x in p.get("sources") or []) > 0:
                            progress.append(p)
    dur = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    med = lambda xs: pct(xs, 50) if xs else 0
    return {
        "kes.batch_ms_p50": med(batch_ms),
        "kes.events_per_batch_p50": med(sizes),
        "kes.source_ms_p50": med([dur(p, "latestOffset", "getBatch") for p in progress]),
        "kes.plan_ms_p50": med([dur(p, "queryPlanning") for p in progress]),
        "kes.exec_ms_p50": med([dur(p, "addBatch") for p in progress]),
        "kes.wal_ms_p50": med([dur(p, "walCommit", "commitOffsets") for p in progress]),
        "kes.state_commit_ms_p50": med([s.get("commitTimeMs", 0) for s in state]),
        "kes.state_rows_end": state[-1]["numRowsTotal"] if state else 0,
        "kes.state_bytes_end": state[-1]["memoryUsedBytes"] if state else 0,
        "kes.evicted_rows": sum(s.get("numRowsRemoved", 0) for s in state),
    }
