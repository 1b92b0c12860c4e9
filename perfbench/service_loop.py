"""The ``service_repeat`` workload: a closed loop of HTTP clients in this
process against the program's ``MedicalReportServer`` in its own process.

Each client posts ``/processFullMedicalText`` for a document drawn from a
fixed pool and sends its next request only when the reply has arrived.
After one warm-up pass over the pool every request repeats text the server
has already seen: the warm-memo regime.
"""

from __future__ import annotations

import http.client
import json
import random
import subprocess
import sys
import threading
import time
from statistics import median

from . import inputs
from .common import (ROOT, BoxCpu, descendants, peak_rss_mb, percentile,
                     proc_cpu_s)


class Server:
    """The launcher process (perfbench/server.py) and its port."""

    def __init__(self, trace: bool = False, fault: str | None = None):
        cmd = [sys.executable, "-m", "perfbench.server"]
        if trace:
            cmd.append("--trace")
        if fault:
            cmd += ["--fault", fault]
        self.proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"server did not start: {line!r}")
        self.port = int(line.split()[1])

    def stats(self) -> dict:
        self.proc.stdin.write("stats\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def cpu_s(self) -> float:
        return proc_cpu_s(self.proc.pid)

    def rss_mb(self) -> float:
        return peak_rss_mb([self.proc.pid] + descendants(self.proc.pid))

    def close(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
            self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()


def post(port: int, body: bytes) -> tuple[int, str]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/processFullMedicalText", body,
                     {"Content-Type": "application/json"})
        r = conn.getresponse()
        return r.status, r.read().decode("utf-8")
    finally:
        conn.close()


def expected_tei(doc: dict) -> str:
    from grobid_medical_report_spark.functions.tei import render_tei
    from grobid_medical_report_spark.operators.assemble import extract_doc

    return render_tei(extract_doc(doc["doc_id"], doc["spans"]))


class Pool:
    """Request bodies and the TEI each must come back as."""

    def __init__(self, idx: list[int]):
        docs = [inputs.input_doc(i) for i in idx]
        self.bodies = [json.dumps(d).encode("utf-8") for d in docs]
        self.tei = [expected_tei(d) for d in docs]


def start_checked(pool: Pool, k: int, **kw) -> tuple[Server, float]:
    """Launch a server and time it to its first correct extraction."""
    t0 = time.perf_counter()
    srv = Server(**kw)
    status, body = post(srv.port, pool.bodies[k])
    dt = time.perf_counter() - t0
    if status != 200 or body != pool.tei[k]:
        srv.close()
        raise RuntimeError(f"set-up request failed with status {status}")
    return srv, dt


def cold_pass(srv: Server, pool: Pool) -> list[str]:
    """One request per pool doc, so that every timed request repeats text
    the server has seen. Returns the wrong responses."""
    bad = []
    for k, body in enumerate(pool.bodies):
        status, tei = post(srv.port, body)
        if status != 200 or tei != pool.tei[k]:
            bad.append(f"cold request for pool doc {k}: status {status}")
    return bad


#: one caller at a time. With more, the GIL-bound server queues requests
#: behind each other and behind its own BLAS spin threads, and the latency
#: percentiles swung 11-13% between runs against 5-8% with one (4 vCPUs)
CLIENTS = 1

#: requests a run needs at least, so that ten lie beyond its p99
MIN_REQUESTS = 1000


def closed_loop(srv: Server, pool: Pool, clients: int, seconds: float,
                seed: int) -> dict:
    """``clients`` threads, each one request in flight, for ``seconds`` and
    at least ``MIN_REQUESTS`` requests."""
    lat: list[float] = []
    bad: list[str] = []
    lock = threading.Lock()
    deadline = [0.0]

    def client(c: int) -> None:
        rng = random.Random(seed * 100 + c)
        wrong = []
        while True:
            with lock:
                if (time.perf_counter() >= deadline[0]
                        and len(lat) >= MIN_REQUESTS):
                    break
            k = rng.randrange(len(pool.bodies))
            t0 = time.perf_counter()
            try:
                status, body = post(srv.port, pool.bodies[k])
            except (OSError, http.client.HTTPException) as exc:
                status, body = -1, repr(exc)
            dt = (time.perf_counter() - t0) * 1e3
            with lock:
                lat.append(dt)
            if status != 200 or body != pool.tei[k]:
                wrong.append(f"request for pool doc {k}: status {status}"
                             + ("" if status != 200 else ", wrong TEI"))
        with lock:
            bad.extend(wrong)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    cpu0 = srv.cpu_s()
    with BoxCpu() as box:
        deadline[0] = time.perf_counter() + seconds
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    return {"lat": lat, "bad": bad, "wall_s": box.wall_s,
            "server_cpu_s": srv.cpu_s() - cpu0, "box": box}


def run_workload(cfg, seed: int, seconds: float,
                 fault: str | None = None) -> dict:
    base = inputs.first_index(seed)
    pool = Pool(inputs.pool_indices(base + inputs.POOL, cfg.pool_scale))
    # one-page docs: a set-up's first extraction should cost the same in
    # every run, so that setup_s measures the launch, imports and model loads
    setup = Pool(inputs.pick(base + inputs.SETUP,
                             {("small", 1): cfg.service_setups}))
    times = []
    srv = None
    for k in range(cfg.service_setups):
        if srv is not None:
            srv.close()
        srv, dt = start_checked(setup, k, fault=fault)
        times.append(dt)
    try:
        cold_bad = cold_pass(srv, pool)
        res = closed_loop(srv, pool, CLIENTS, seconds, seed)
        rss = srv.rss_mb()
    finally:
        srv.close()
    n = len(res["lat"])
    bad = cold_bad + res["bad"]
    return {
        "attempted": n + len(pool.bodies), "failed": len(bad),
        "fails": bad[:20],
        "steal_pct": res["box"].steal_pct,
        "metrics": {
            "docs_per_s": (n / res["wall_s"], "1/s"),
            "setup_s": (median(times), "s"),
            "peak_rss_mb": (rss, "MB"),
            "cpu_ms_per_doc": (res["server_cpu_s"] * 1e3 / n, "ms"),
            "latency_p50_ms": (percentile(res["lat"], 0.50), "ms"),
            "latency_p99_ms": (percentile(res["lat"], 0.99), "ms"),
        },
        "extra": {"requests": n, "clients": CLIENTS,
                  "setup_s_all": [round(t, 3) for t in times]},
    }
