#!/usr/bin/env python3
"""graft's benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the harness with sbt (cached under .bench_build/ by a digest of the
sources). Inputs are generated from --seed; the program only sees them.
The last stdout line is the result object; the line before it holds the
details (host stamp, the workload's own metric names, checks).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("kes_watch", "training_job", "ann_index", "query_mix")

# Spark 4 on JDK 17 outside spark-submit needs these (as graft's build.sbt).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def meminfo_kb():
    with open("/proc/meminfo") as f:
        return int(next(l for l in f if l.startswith("MemTotal:")).split()[1])


def heap():
    """JVM heap sized from the host as the tier-1 test command does:
    half of MemTotal, clamped to 2..8 GiB."""
    return f"{min(8, max(2, meminfo_kb() // 2097152))}g"


def jdk_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return r.stderr.splitlines()[0] if r.stderr else None


def spark_version(cp):
    m = re.search(r"spark-core_[\d.]+-([\w.]+)\.jar", cp)
    return m.group(1) if m else None


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} next to perfbench/: run from a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        die(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def java(cp, main, args, work, extra=()):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return ["java", *ADD_OPENS, f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp", *extra, "-cp", cp, main, *args]


def run_jvm(cmd, work, env=None, timeout=170):
    """Run a JVM to completion; return (exit code, peak RSS in MB)."""
    with open(os.path.join(work, "jvm.log"), "ab") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        deadline = time.time() + timeout
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_maxrss / 1024.0
            if time.time() > deadline:
                p.kill()
                _, status, ru = os.wait4(p.pid, 0)
                p.returncode = -9
                return -9, ru.ru_maxrss / 1024.0
            time.sleep(0.05)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# Per-layer metrics of the traced run, by workload. A traced run reports
# all of them; those of another workload's layers read 0 (not exercised).
PER_LAYER = {
    "kes_watch": [
        ("kes.batch_ms_p50", "ms"), ("kes.events_per_batch_p50", "count"),
        ("kes.source_ms_p50", "ms"), ("kes.plan_ms_p50", "ms"), ("kes.exec_ms_p50", "ms"),
        ("kes.wal_ms_p50", "ms"), ("kes.state_commit_ms_p50", "ms"),
        ("kes.state_rows_end", "count"), ("kes.state_bytes_end", "bytes"),
        ("kes.evicted_rows", "count"), ("kes.backpressure_stalls", "count"),
        ("kes.buffered_p50", "count"), ("kes.cache_hit_share", "share"),
        ("kes.gen_late_ms_max", "ms"), ("kes.over_limit_share", "share"),
        ("kes.list_eps", "1/s"), ("kes.list_eps_1core", "1/s")],
    "training_job": [
        ("tdj.scan_ms", "ms"), ("tdj.curate_ms", "ms"), ("tdj.clusters_ms", "ms"),
        ("tdj.minhash_ms", "ms"), ("tdj.compose_ms", "ms"), ("tdj.write_ms", "ms"),
        ("tdj.plan_ms", "ms"), ("tdj.stages", "count"), ("tdj.tasks", "count"),
        ("tdj.scan_rows_per_doc", "count"), ("tdj.shuffle_bytes_per_doc", "bytes"),
        ("tdj.spill_bytes", "bytes"), ("tdj.gc_ms", "ms"), ("tdj.kept_share", "share")],
    "ann_index": [
        ("ann.graph_build_s", "s"), ("ann.graph_recall_at_5", "share"), ("ann.norm_ms", "ms"),
        ("ann.knn_seed_ms", "ms"), ("ann.build_shuffle_rows", "count"),
        ("ann.lloyd_ms", "ms"), ("ann.search_plan_ms_p50", "ms"),
        ("ann.search_stages_per_call", "count"), ("ann.ivfpq_scan_rows_per_call", "count"),
        ("ann.index_bytes_graph", "bytes"), ("ann.index_bytes_ivfpq", "bytes")],
    "query_mix": [
        ("qmix.tables_ms_p50", "ms"), ("qmix.analysis_ms_p50", "ms"),
        ("qmix.optimizer_ms_p50", "ms"), ("qmix.planning_ms_p50", "ms"),
        ("qmix.exec_ms_p50", "ms"), ("qmix.jobs_per_query", "count"),
        ("qmix.stages_per_query", "count"), ("qmix.tasks_per_query", "count"),
        ("qmix.scan_bytes_per_query", "bytes"), ("qmix.shuffle_bytes_per_query", "bytes"),
        ("qmix.gc_ms", "ms")],
}
# Peak resident memory of the JVM under test (the program's JVM: KesMain
# or the harness). Not gated: it moves 12-36% (IQR) between seeds with
# G1's heap sizing, so it is reported, not bounded.
PER_LAYER["all"] = [("jvm.peak_rss_mb", "MB")]
# The traced run's own end-to-end figures: against the untraced runs'
# they show what tracing costs.
TRACED_E2E = [("traced.throughput", "1/s"), ("traced.p50_ms", "ms"), ("traced.tail_ms", "ms")]


def per_layer_metrics(layers, e2e):
    out = {n: (layers.get(n, 0), u) for w in PER_LAYER.values() for n, u in w}
    out.update({n: (e2e[n.split(".", 1)[1]][0], u) for n, u in TRACED_E2E})
    return out


# ---------------------------------------------------------------- stats

def med(xs):
    return statistics.median(xs)


# ------------------------------------------------------------ workloads

def jvm_workload(args, cp, work, inputs):
    cache = os.path.join(work, "target", "graft-cache")
    cache_before = dir_bytes(cache)
    code, rss = run_jvm(java(cp, "graftbench.Main",
                             [args.workload, work, inputs, str(args.seconds), str(args.trace)], work),
                        work)
    if code != 0:
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        die(f"harness exited {code}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    res["peak_rss_mb"] = rss
    res["graft_cache_bytes"] = [cache_before, dir_bytes(cache)]
    if args.trace:
        res["spans"] = span_times(os.path.join(work, "spans.json"))
    return res


def span_times(path):
    """Per span name: count, total ms and self ms (total minus the time
    its child spans cover; the harness is single-threaded)."""
    with open(path) as f:
        spans = json.load(f)
    covered = {}
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] = covered.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        t = out.setdefault(s["name"], {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
        t["n"] += 1
        t["total_ms"] += d / 1e6
        t["self_ms"] += (d - covered.get(s["id"], 0)) / 1e6
    return out


def training_job(args, cp, work, inputs, t_gen):
    res = jvm_workload(args, cp, work, inputs)
    it = res["iterations"]
    docs = it[0]["docs"]
    # the first iteration is cold (code generation, first reads): reported apart
    run_s = [i["run_s"] for i in it[1:]]
    problems, failed = [], 0
    for i in it:
        p = checks.tdj_output(i["dir"] + "/corpus/documents.parquet", i["dir"] + "/out")
        failed += bool(p)
        problems += p
    counts = {checks.tdj_count(i["dir"] + "/out") for i in it}
    if len(counts) != 1:
        problems.append(f"output counts differ between iterations: {sorted(counts)}")
    expected = checks.expected_tdj_count(args.seed)
    if expected is not None and counts != {expected}:
        problems.append(f"output count {sorted(counts)} != recorded {expected} for seed {args.seed}")
    named = {
        "setup_s": (t_gen + res["session_s"] + med([i["derive_s"] for i in it]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "tdj_docs_per_s": (docs / med(run_s), "1/s"),
        "tdj_run_p50_ms": (med(run_s) * 1000, "ms"),
        "tdj_run_max_ms": (max(run_s) * 1000, "ms"),
        "tdj_run_first_ms": (it[0]["run_s"] * 1000, "ms"),
    }
    e2e = {"throughput": named["tdj_docs_per_s"], "p50_ms": named["tdj_run_p50_ms"],
           "tail_ms": named["tdj_run_max_ms"]}
    layers = {f"tdj.{k}": v for k, v in res["layers"].items()}
    extra = {"docs": docs, "iterations": len(it), "out_rows": sorted(counts)}
    extra["graft_cache_bytes"] = res["graft_cache_bytes"]
    extra["spans"] = res.get("spans")
    return named, e2e, layers, len(it), max(failed, int(bool(problems))), problems, extra


def ann_index(args, cp, work, inputs, t_gen):
    res = jvm_workload(args, cp, work, inputs)
    calls = res["calls"]
    # the first search is cold (code generation, first reads): reported apart
    lat = [c["s"] * 1000 for c in calls[1:]]
    ids, x = checks.corpus_vectors(os.path.join(inputs, "corpus"))
    exact = checks.exact_topk_of(ids, x, 5, 8)
    problems = checks.ann_problems(calls, ids, 5)
    named = {
        "setup_s": (t_gen + res["session_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ann_ivfpq_build_s": (res["ivfpq_build_s"], "s"),
        "ann_vectors_per_build_s": (len(ids) / res["ivfpq_build_s"], "1/s"),
        "ann_search_p50_ms": (med(lat), "ms"),
        "ann_search_p90_ms": (checks.pct(lat, 90), "ms"),
        "ann_search_first_ms": (calls[0]["s"] * 1000, "ms"),
        "ann_ivfpq_recall_at_5": (checks.recall_at_k(calls[0]["hits"], exact, 5), "share"),
    }
    e2e = {"throughput": named["ann_vectors_per_build_s"], "p50_ms": named["ann_search_p50_ms"],
           "tail_ms": named["ann_search_p90_ms"]}
    layers = {}
    if args.trace:
        l = res["layers"]
        graph = [{"kind": "graph", "hits": res["graph_hits"]}]
        problems += checks.ann_problems(graph, ids, 5)
        named.update({
            "ann_graph_build_s": (res["graph_build_s"], "s"),
            "ann_graph_search_ms": (res["graph_search_s"] * 1000, "ms"),
            "ann_graph_recall_at_5": (checks.recall_at_k(res["graph_hits"], exact, 5), "share"),
        })
        layers = {
            "ann.graph_build_s": res["graph_build_s"],
            "ann.graph_recall_at_5": named["ann_graph_recall_at_5"][0],
            "ann.norm_ms": l["norm_ms"], "ann.knn_seed_ms": l["knn_seed_ms"],
            "ann.build_shuffle_rows": l["build_shuffle_rows"], "ann.lloyd_ms": l["lloyd_ms"],
            "ann.search_plan_ms_p50": med(l["search_plan_ms"]) if l["search_plan_ms"] else 0,
            "ann.search_stages_per_call": statistics.fmean(c["stages"] for c in calls),
            "ann.ivfpq_scan_rows_per_call": statistics.fmean(c["input_rows"] for c in calls),
            "ann.index_bytes_graph": dir_bytes(res["graph_dir"]),
            "ann.index_bytes_ivfpq": dir_bytes(res["ivfpq_dir"]),
        }
    extra = {"vectors": len(ids), "search_calls": len(calls),
             "graft_cache_bytes": res["graft_cache_bytes"], "spans": res.get("spans")}
    failed = sum(1 for p in problems if p.startswith("search call"))
    return named, e2e, layers, 1 + len(calls), max(failed, int(bool(problems))), problems, extra


def query_mix(args, cp, work, inputs, t_gen):
    res = jvm_workload(args, cp, work, inputs)
    runs = res["runs"]
    verdict = checks.oracle(os.path.join(ROOT, "scripts", "check.py"), res["dump"], res["sf"])
    bad = {n for n, ok in verdict.items() if not ok}
    failed = [r for r in runs if not r["ok"] or r["name"] in bad]
    lat = [r["s"] * 1000 for r in runs]
    loop_s = sum(r["s"] for r in runs)
    named = {
        "setup_s": (t_gen + res["session_s"] + res["warm_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "qmix_queries_per_s": (len(runs) / loop_s, "1/s"),
        "qmix_p50_ms": (checks.pct(lat, 50), "ms"),
        "qmix_p90_ms": (checks.pct(lat, 90), "ms"),
        "qmix_tail10_mean_ms": (statistics.fmean(sorted(lat)[-max(1, len(lat) // 10):]), "ms"),
    }
    e2e = {"throughput": named["qmix_queries_per_s"], "p50_ms": named["qmix_p50_ms"],
           "tail_ms": named["qmix_tail10_mean_ms"]}
    layers = {}
    if args.trace:
        c = [r["counts"] for r in runs]
        per = lambda k: statistics.fmean(x.get(k, 0) for x in c)
        layers = {
            "qmix.tables_ms_p50": med([r["tables_ms"] for r in runs]),
            "qmix.analysis_ms_p50": med([r["analysis_ms"] for r in runs]),
            "qmix.optimizer_ms_p50": med([r["optimization_ms"] for r in runs]),
            "qmix.planning_ms_p50": med([r["planning_ms"] for r in runs]),
            "qmix.exec_ms_p50": med([r["s"] * 1000 - r["analysis_ms"] - r["optimization_ms"]
                                     - r["planning_ms"] for r in runs]),
            "qmix.jobs_per_query": per("jobs"), "qmix.stages_per_query": per("stages"),
            "qmix.tasks_per_query": per("tasks"), "qmix.scan_bytes_per_query": per("input_bytes"),
            "qmix.shuffle_bytes_per_query": per("shuffle_bytes"),
            "qmix.gc_ms": sum(x.get("gc_ms", 0) for x in c),
        }
    problems = [f"oracle mismatch: {n}" for n in sorted(bad)] + \
               [f"{r['name']} raised" for r in runs if not r["ok"]][:5]
    extra = {"queries": len(verdict), "oracle_pass": len(verdict) - len(bad),
             "executions": len(runs), "graft_cache_bytes": res["graft_cache_bytes"],
             "spans": res.get("spans")}
    return named, e2e, layers, len(runs), len(failed), problems, extra


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    stamp = {"nproc": os.cpu_count(), "mem_total_kb": meminfo_kb(), "heap": heap(),
             "loadavg_start": loadavg()}
    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        t0 = time.time()
        gen.prepare(args.workload, args.seed, inputs)
        t_gen = time.time() - t0
        if args.workload == "kes_watch":
            import kes
            out = kes.run(args, cp, work, t_gen, java)
        else:
            out = {"training_job": training_job, "ann_index": ann_index,
                   "query_mix": query_mix}[args.workload](args, cp, work, inputs, t_gen)
        named, e2e, layers, attempted, failed, problems, extra = out
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp.update(loadavg_end=loadavg(), jdk=jdk_version(), spark=spark_version(cp),
                 graft_cache_bytes=extra.pop("graft_cache_bytes", None))
    metrics = dict(setup_s=named["setup_s"], throughput=e2e["throughput"], p50_ms=e2e["p50_ms"])
    if args.trace:
        metrics = per_layer_metrics(dict(layers, **{"jvm.peak_rss_mb": named["peak_rss_mb"][0]}),
                                    e2e)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": stamp, "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              "extra": extra, "layers": layers, "problems": problems}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
