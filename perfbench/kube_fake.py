#!/usr/bin/env python3
"""A fake Kubernetes Events API for the kes_watch workload.

One single-threaded process. It serves `GET /api/v1/events` (a LIST of a
seeded backlog, with `metadata.resourceVersion`) and then
`GET /api/v1/events?watch=true&resourceVersion=<rv>` (NDJSON ADDED
events on a fixed open-loop schedule, with BOOKMARKs in between). The
schedule never waits for the client: each watch event is stamped with
its due time as `lastTimestamp`, and sent as soon as it is due.

The first LIST is a small cold one. Once <work_dir>/relist exists, the
watch ends with the in-stream 410 Gone the API server sends for an
expired bookmark, and the client's re-LIST gets a second, larger backlog
of new events: the LIST phase measured with the daemon warm.

Every offered item is written to the ledger (JSON lines), the oracle of
what graft must emit. Planted items:
  dup      a re-delivery of an earlier item (same uid:resourceVersion,
           same timestamps), sent within TTL/2 of that item's event time;
  bump     an earlier uid with a new resourceVersion (a new key);
  missing  no timestamp at all (graft drops it and counts it).

    kube_fake.py <work_dir> <seed> <n_cold> <n_list> <rate_per_s> <watch_s> <ttl_s>

Writes <work_dir>/port once listening, <work_dir>/ledger.jsonl as it
goes, and <work_dir>/watch_done when the schedule has been sent. Until
<work_dir>/start_watch exists the watch carries only bookmarks. Runs
until SIGTERM.
"""
import bisect
import datetime as dt
import json
import os
import random
import signal
import socket
import sys
import time

DUP_SHARE, BUMP_SHARE, MISSING_SHARE = 0.10, 0.05, 0.005
BOOKMARK_S = 0.5


def iso(t):
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


class Plan:
    """Seeded choice of each item's kind; times are filled in as sent."""

    def __init__(self, seed, ttl):
        self.rng = random.Random(seed)
        self.ttl = ttl
        self.rv = 1000
        self.n_uid = 0
        self.recent = []  # (event time, event) of first occurrences, in time order
        self.lo = 0  # recent[lo:] are within one TTL of the latest event time
        self.last_t = 0.0  # latest event time handed out

    def _since(self, t):
        return bisect.bisect_left(self.recent, t, lo=self.lo, key=lambda x: x[0])

    def event(self, t):
        """The next item with event time `t`: (kind, event object)."""
        self.rv += 1
        self.last_t = t
        r = self.rng.random()
        self.lo = self._since(t - self.ttl)
        half = self._since(t - self.ttl / 2)
        if r < DUP_SHARE and half < len(self.recent):
            return "dup", self.recent[self.rng.randrange(half, len(self.recent))][1]
        kind = "first"
        if r < DUP_SHARE + BUMP_SHARE and self.lo < len(self.recent):
            kind = "bump"
            uid = self.recent[self.rng.randrange(self.lo, len(self.recent))][1]["metadata"]["uid"]
        else:
            self.n_uid += 1
            uid = f"uid-{self.n_uid:07d}"
        ev = {
            "kind": "Event", "apiVersion": "v1",
            "metadata": {"name": f"pod-{self.rng.randrange(500)}.{self.rv:x}",
                         "namespace": self.rng.choice(["default", "kube-system", "apps"]),
                         "uid": uid, "resourceVersion": str(self.rv)},
            "involvedObject": {"kind": "Pod", "namespace": "default",
                               "name": f"pod-{self.rng.randrange(500)}"},
            "reason": self.rng.choice(["Scheduled", "Pulled", "Created", "Started", "BackOff"]),
            "message": "x" * self.rng.randrange(20, 120),
            "type": self.rng.choice(["Normal", "Normal", "Warning"]),
            "count": 1, "source": {"component": "kubelet", "host": "node-1"},
        }
        if self.rng.random() < MISSING_SHARE:
            return "missing", ev
        ev["metadata"]["creationTimestamp"] = iso(t)
        ev["firstTimestamp"] = iso(t)
        ev["lastTimestamp"] = iso(t)
        self.recent.append((t, ev))
        return kind, ev


def key(ev):
    return f"{ev['metadata']['uid']}:{ev['metadata']['resourceVersion']}"


def read_request(conn):
    data = b""
    while b"\r\n\r\n" not in data:
        chunk = conn.recv(4096)
        if not chunk:
            return None
        data += chunk
    return data.split(b"\r\n", 1)[0].decode().split(" ")[1]


def main():
    work, seed, n_cold, n_list, rate, watch_s, ttl = sys.argv[1:8]
    seed, n_cold, n_list = int(seed), int(n_cold), int(n_list)
    rate, watch_s, ttl = float(rate), float(watch_s), float(ttl)
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    plan = Plan(seed, ttl)
    ledger = open(os.path.join(work, "ledger.jsonl"), "w")

    def log(**kv):
        ledger.write(json.dumps(kv) + "\n")

    srv = socket.socket()
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(0.2)
    with open(os.path.join(work, "port.tmp"), "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.rename(os.path.join(work, "port.tmp"), os.path.join(work, "port"))

    schedule = None  # due times of the watch items, fixed at the first WATCH
    relisted = False  # the 410 has been sent: the next LIST is the re-LIST
    sent = 0
    late_max = 0.0
    while not stop:
        try:
            conn, _ = srv.accept()
        except socket.timeout:
            continue
        conn.setblocking(True)
        path = read_request(conn)
        try:
            if path is None:
                pass
            elif "watch=true" not in path:
                # the first LIST's backlog spans 3 TTLs of event time before
                # now; the re-LIST's the last TTL/2 (newer than the daemon's
                # watermark, so none of it is late)
                t_req = time.time()
                phase, n, span = ("relist", n_list, ttl / 2) if relisted else ("list", n_cold, 3 * ttl)
                log(phase=f"{phase}_requested", at=t_req)
                t_from = max(t_req - span, plan.last_t)
                items = []
                for i in range(n):
                    t = t_from + (t_req - t_from) * i / n
                    kind, ev = plan.event(t)
                    items.append(ev)
                    log(phase=phase, kind=kind, key=key(ev), due=t)
                body = json.dumps({"kind": "EventList", "apiVersion": "v1",
                                   "metadata": {"resourceVersion": str(plan.rv)},
                                   "items": items}).encode()
                conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                             b"Connection: close\r\nContent-Length: %d\r\n\r\n" % len(body) + body)
                log(phase=f"{phase}_served", at=time.time(), n=n)
            else:
                conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                             b"Connection: close\r\n\r\n")
                next_bookmark = time.time() + BOOKMARK_S
                while not stop:
                    now = time.time()
                    if not relisted and os.path.exists(os.path.join(work, "relist")):
                        relisted = True
                        err = {"type": "ERROR", "object": {"kind": "Status", "apiVersion": "v1",
                                                           "status": "Failure", "reason": "Expired",
                                                           "code": 410}}
                        conn.sendall((json.dumps(err) + "\n").encode())
                        break
                    if schedule is None and os.path.exists(os.path.join(work, "start_watch")):
                        t0 = now + 0.2
                        schedule = [t0 + j / rate for j in range(int(rate * watch_s))]
                        log(phase="watch_started", at=t0, n=len(schedule))
                    if schedule and sent < len(schedule) and schedule[sent] <= now:
                        due = schedule[sent]
                        kind, ev = plan.event(due)
                        conn.sendall((json.dumps({"type": "ADDED", "object": ev}) + "\n").encode())
                        late_max = max(late_max, time.time() - due)
                        log(phase="watch", kind=kind, key=key(ev), due=due)
                        sent += 1
                        if sent == len(schedule):
                            log(phase="watch_done", at=time.time(), late_max_s=late_max)
                            ledger.flush()
                            open(os.path.join(work, "watch_done"), "w").close()
                        continue
                    if now >= next_bookmark:
                        bm = {"type": "BOOKMARK", "object": {
                            "kind": "Event", "apiVersion": "v1",
                            "metadata": {"resourceVersion": str(plan.rv)}}}
                        conn.sendall((json.dumps(bm) + "\n").encode())
                        next_bookmark = now + BOOKMARK_S
                    wake = next_bookmark
                    if schedule and sent < len(schedule):
                        wake = min(wake, schedule[sent])
                    time.sleep(max(0.0, min(0.05, wake - time.time())))
        except OSError:
            pass  # client went away; it re-watches from its bookmark
        finally:
            conn.close()
            ledger.flush()
    ledger.close()


if __name__ == "__main__":
    main()
