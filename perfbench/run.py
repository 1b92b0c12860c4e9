"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_cold --seed 1 --seconds 10 --trace 0

Runs one workload against the program in this checkout and prints, as the
last stdout line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Run-validity diagnostics go to stderr as one JSON line.
Exits non-zero when an output check fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("batch_cold", "job_checkpoint", "service_repeat")


@dataclass(frozen=True)
class Config:
    """Sizes of one run; ``SMOKE`` shrinks them for the self-test."""
    setups: int = 3           # Spark set-ups per run; setup_s is their median
    service_setups: int = 11  # server set-ups per run (each about 0.15 s)
    files: int = 16           # parquet files per set: 4x the cores
    job_docs: int = 2000      # docs per parquet set; one batch_cold job
    batch_min_jobs: int = 5   # batch_cold runs at least this many jobs
    ckpt_sets: int = 4        # sets per job_checkpoint job (8000 docs)
    max_sets: int = 16        # pre-generated timed sets (32k docs)
    warmup_docs: int = 1000
    sample: int = 8           # docs per job compared with extract_doc
    pool_scale: float = 1.0   # service pool: inputs.POOL_CELLS times this
    kernel_docs: int = 1000   # traced single-process kernel pass


FULL = Config()
SMOKE = Config(setups=2, service_setups=2, files=4, job_docs=1000,
               batch_min_jobs=1, ckpt_sets=1, max_sets=1, warmup_docs=64,
               sample=4, pool_scale=0.05, kernel_docs=100)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="self-test sizes (perfbench/selftest.py)")
    ap.add_argument("--fault", choices=("drop_doc", "bad_status"),
                    help="inject an output fault the checks must catch "
                         "(perfbench/selftest.py)")
    args = ap.parse_args(argv)
    cfg = SMOKE if args.smoke else FULL
    # SIGTERM unwinds like an error, so the finally below still stops and
    # waits for every process the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.adopt_orphans()
    tmp = common.prepare_env(f"{args.workload}-{os.getpid()}")
    try:
        if args.trace:
            from perfbench import trace
            res = trace.run(args.workload, cfg, args.seed, args.seconds, tmp)
        elif args.workload == "service_repeat":
            from perfbench import service_loop
            res = service_loop.run_workload(cfg, args.seed, args.seconds,
                                            fault=args.fault)
        else:
            from perfbench import spark_jobs
            res = spark_jobs.run_workload(args.workload, cfg, args.seed,
                                          args.seconds, tmp, fault=args.fault)
    finally:
        common.stop_descendants()
        shutil.rmtree(tmp, ignore_errors=True)
    for f in res["fails"]:
        common.log(f"CHECK FAILED: {f}")
    print(json.dumps({"diagnostics": common.diagnostics(res["steal_pct"]),
                      **res.get("extra", {})}), file=sys.stderr, flush=True)
    correct = not res["fails"]
    common.emit(correct, res["attempted"], res["failed"], res["metrics"])
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
