"""kes_watch: the graft.KesMain daemon fed by kube_fake.py over the watch API."""
import os
import signal
import socket
import subprocess
import sys
import time
import urllib.request

import checks

HERE = os.path.dirname(os.path.abspath(__file__))

TTL_S = 4          # dedup TTL; a run spans several
# Backlog events of the first, cold LIST (a warm-up) and of the re-LIST
# after a 410, the measured LIST phase. The first is held under
# KubeWatchSource's 1024-event buffer: a larger initial LIST stalls every
# source call for up to listWaitMs (10 s) until it is fully buffered (17
# events/s measured at 1500 events). The re-LIST has no such wait.
N_COLD = 100
N_LIST = 2500
RATE = 400.0     # WATCH events per second, about half the seed's kes_list_eps (~800)
LIMIT_MS = 2000.0  # latency limit: later (or never) emitted WATCH events miss it
TIMEOUT_S = 100.0  # from daemon start until every expected key must be out


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def scrape(port):
    """Prometheus text from KesMain's /metrics → {name: value}."""
    try:
        body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=2).read()
    except OSError:
        return {}
    out = {}
    for line in body.decode().splitlines():
        if line and not line.startswith("#"):
            name, _, v = line.rpartition(" ")
            out[name] = float(v)
    return out


def stop(p, sig, timeout):
    """Signal a child, wait for it; return its rusage (kill after timeout),
    or None when it was already reaped."""
    if p.returncode is not None:
        return None
    p.send_signal(sig)
    end = time.time() + timeout
    while time.time() < end:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return ru
        time.sleep(0.05)
    p.kill()
    _, status, ru = os.wait4(p.pid, 0)
    p.returncode = -9
    return ru


def daemon(seed, cp, d, java, rate, watch_s, trace, extra=()):
    """One KesMain life: start the fake API and the daemon, offer the cold
    backlog, then the re-LIST backlog, then the watch schedule (none when
    watch_s is 0), each once the daemon has emitted every key before it;
    wait until every expected key is out
    (or a timeout), stop both. Returns what the checks need; `failure`
    says why the daemon stopped early, if it did."""
    os.makedirs(d)
    with open(os.path.join(d, "gen.log"), "w") as glog:
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "kube_fake.py"), d, str(seed),
                                str(N_COLD), str(N_LIST), str(rate), str(watch_s), str(TTL_S)],
                               stdin=subprocess.DEVNULL, stdout=glog, stderr=glog)
    jvm = None
    try:
        port_file = os.path.join(d, "port")
        end = time.time() + 20
        while not os.path.exists(port_file):
            if time.time() > end or gen.poll() is not None:
                raise RuntimeError("fake API did not start")
            time.sleep(0.05)
        with open(port_file) as f:
            port = int(f.read())
        mport = free_port()
        env = {k: v for k, v in os.environ.items()
               if k not in ("CACHE_TTL", "CACHE_DB", "CACHE_RECREATE", "TIME_FALLBACK")}
        env["METRICS_PORT"] = str(mport)
        jvm_extra = list(extra)
        if trace:
            os.makedirs(os.path.join(d, "eventlog"))
            jvm_extra += ["-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false",
                          f"-Dspark.eventLog.dir=file:{d}/eventlog"]
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        t_start = time.time()
        with open(os.path.join(d, "jvm.log"), "w") as jlog:
            jvm = subprocess.Popen(
                java(cp, "graft.KesMain", [f"k8s://127.0.0.1:{port}", out, ckpt, f"{TTL_S} seconds"],
                     d, jvm_extra), cwd=d, env=env, stdin=subprocess.DEVNULL, stdout=jlog, stderr=jlog)
        ledger = os.path.join(d, "ledger.jsonl")
        relist = os.path.join(d, "relist")
        buffered = []
        end = time.time() + TIMEOUT_S
        t_ready = None
        failure = None
        while True:
            if time.time() > end:
                failure = f"KesMain did not emit every expected key within {TIMEOUT_S:.0f} s"
                break
            if jvm.poll() is not None:
                failure = f"KesMain exited {jvm.returncode}"
                break
            m = scrape(mport)
            if trace and t_ready and "graft_source_buffered_events" in m:
                buffered.append(m["graft_source_buffered_events"])
            led = checks.read_ledger(ledger)
            caught_up = m.get("graft_cache_misses_total", -1) >= len(led["expected"])
            if caught_up and "list_served" in led["marks"] and not os.path.exists(relist):
                # the cold backlog is out: end the watch with a 410
                open(relist, "w").close()
            elif t_ready is None and caught_up and "relist_served" in led["marks"]:
                # the re-LIST is out and the daemon warm: start the open loop
                t_ready = time.time()
                if watch_s == 0:
                    break
                open(os.path.join(d, "start_watch"), "w").close()
            elif t_ready and "watch_done" in led["marks"] and caught_up:
                break
            time.sleep(0.1)
        metrics = scrape(mport)
        ru = stop(jvm, signal.SIGTERM, 30)
        jvm = None
        return {"dir": d, "t_start": t_start, "metrics": metrics, "buffered": buffered,
                "failure": failure,
                "rss_mb": ru.ru_maxrss / 1024.0 if ru else 0.0, "ledger": checks.read_ledger(ledger),
                "out": out, "ckpt": ckpt}
    finally:
        if jvm is not None:
            stop(jvm, signal.SIGTERM, 30)
        stop(gen, signal.SIGTERM, 10)


def run(args, cp, work, t_gen, java):
    r = daemon(args.seed, cp, os.path.join(work, "kes"), java, RATE, args.seconds, args.trace)
    led, m = r["ledger"], r["metrics"]
    emitted = checks.kes_emitted(r["out"])
    problems = ([r["failure"]] if r["failure"] else []) + checks.kes_verdict(led, emitted, m)
    marks = led["marks"]
    # a daemon that stopped early may leave the WATCH phase unstarted
    start = marks["watch_started"]["at"] if "watch_started" in marks else time.time()
    lat = checks.kes_latencies(led, emitted, since=start)
    watch = [x for x in lat.values() if x is not None] or [0.0]
    offered = len(lat)
    over = len([x for x in lat.values() if x is None or x > LIMIT_MS])
    window = marks["watch_done"]["at"] - start if "watch_done" in marks else 0.0
    named = {
        "setup_s": (t_gen + marks.get("list_requested", {"at": time.time()})["at"] - r["t_start"],
                    "s"),
        "peak_rss_mb": (r["rss_mb"], "MB"),
        "kes_list_eps": (checks.kes_list_eps(led, emitted, "relist"), "1/s"),
        "kes_list_cold_eps": (checks.kes_list_eps(led, emitted, "list"), "1/s"),
        "kes_watch_goodput": ((offered - over) / window if window > 0 else 0.0, "1/s"),
        "kes_watch_p50_ms": (checks.pct(watch, 50), "ms"),
        "kes_watch_p99_ms": (checks.pct(watch, 99), "ms"),
        "kes_over_limit_share": (over / offered if offered else 1.0, "share"),
    }
    e2e = {"throughput": named["kes_list_eps"], "p50_ms": named["kes_watch_p50_ms"],
           "tail_ms": named["kes_watch_p99_ms"]}
    layers = {}
    if args.trace:
        layers = checks.kes_layers(r["ckpt"], os.path.join(r["dir"], "eventlog"))
        hits, misses = m.get("graft_cache_hits_total", 0), m.get("graft_cache_misses_total", 0)
        layers.update({
            "kes.backpressure_stalls": m.get("graft_source_backpressure_stalls", 0),
            "kes.buffered_p50": checks.pct(r["buffered"], 50) if r["buffered"] else 0,
            "kes.cache_hit_share": hits / (hits + misses),
            "kes.gen_late_ms_max": marks.get("watch_done", {"late_max_s": 0})["late_max_s"] * 1000,
            "kes.over_limit_share": named["kes_over_limit_share"][0],
            "kes.list_eps": named["kes_list_eps"][0],
        })
        # the LIST phase alone on one core: the single-thread baseline
        one = daemon(args.seed, cp, os.path.join(work, "kes-1core"), java, 1.0, 0, False,
                     extra=["-XX:ActiveProcessorCount=1"])
        e1 = checks.kes_emitted(one["out"])
        problems += ([one["failure"]] if one["failure"] else []) + \
            checks.kes_verdict(one["ledger"], e1, one["metrics"])
        layers["kes.list_eps_1core"] = checks.kes_list_eps(one["ledger"], e1, "relist")
    failed = max(checks.kes_failed(led, emitted), int(bool(problems)))
    extra = {"offered": len(led["items"]), "expected_out": len(led["expected"]),
             "watch_samples": len(watch), "rate_per_s": RATE, "ttl_s": TTL_S,
             "limit_ms": LIMIT_MS, "metrics": m}
    return named, e2e, layers, len(led["items"]), failed, problems, extra
