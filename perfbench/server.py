"""Service launcher: runs the program's ``MedicalReportServer`` in its own
process (no Spark) on an ephemeral port.

    python3 -m perfbench.server [--trace] [--fault bad_status]

Prints ``PORT <n>`` once listening, then answers commands on stdin, one per
line: ``stats`` prints one JSON line of counters; ``quit`` or EOF shuts the
server down. With ``--trace`` the launcher wraps the service's request
handler, its in-process kernel call and the TEI renderer, and keeps a count
and a time total for each; without it nothing is wrapped.
"""

from __future__ import annotations

import argparse
import itertools
import json
import sys
import threading


def memo_totals() -> tuple[int, int]:
    """Hits and misses over every ``lru_cache`` of the kernel modules."""
    from perfbench.kernel_pass import memo_infos

    hits = misses = 0
    for infos in memo_infos().values():
        for h, m in infos:
            hits += h
            misses += m
    return hits, misses


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--fault", choices=("bad_status",))
    args = ap.parse_args()

    from grobid_medical_report_spark import service
    from grobid_medical_report_spark.functions import tei
    from perfbench.common import Spans

    spans = Spans()
    if args.trace:
        service._handle = spans.wrap("handle", service._handle)
        service._extract_one = spans.wrap("kernel", service._extract_one)
        tei.render_tei = spans.wrap("tei", tei.render_tei)
    if args.fault == "bad_status":      # self-test: every 50th request fails
        handle, count = service._handle, itertools.count(1)

        def failing(path, payload, spark=None):
            if next(count) % 50 == 0:
                return 500, {"error": "injected"}
            return handle(path, payload, spark=spark)
        service._handle = failing

    srv = service.MedicalReportServer(port=0)
    loop = threading.Thread(target=srv.serve_forever, daemon=True)
    loop.start()
    print(f"PORT {srv.server_address[1]}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stats":
            hits, misses = memo_totals()
            with spans.lock:
                out = {"n": dict(spans.n), "s": dict(spans.s),
                       "memo_hits": hits, "memo_misses": misses}
            print(json.dumps(out), flush=True)
        elif cmd == "quit":
            break
    srv.shutdown()
    srv.server_close()
    loop.join(timeout=10)


if __name__ == "__main__":
    main()
