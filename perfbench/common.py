"""Shared plumbing: checkout paths, the run environment, /proc readers
and small statistics helpers.

Everything the benchmark writes lives under ``<checkout>/.perfbench_tmp``
(per-run working files, deleted after the run) or ``<checkout>/.perfbench_cache`` (generated
inputs, keyed so a stale set is never reused).
"""

from __future__ import annotations

import ctypes
import json
import os
import platform
import shutil
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(ROOT, ".perfbench_tmp")
CACHE = os.path.join(ROOT, ".perfbench_cache")
PACKAGE = "grobid_medical_report_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_tag: str) -> str:
    """Point every writer (Spark, the JVM, Python's tempfile, the program's
    imports in worker processes) inside the checkout. Returns the run's own
    working directory, created empty. Must run before pyspark starts."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"program package {PACKAGE}/ not found under {ROOT}")
    tmp = os.path.join(TMP, run_tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # the program's 16g default heap for the Spark JVM can grow past what a
    # small box can spare; 2g holds every job the benchmark runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UsePerfData")
    # spark-submit first runs a small launcher JVM; keep it out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '{java_opts}' pyspark-shell")
    return tmp


# ---------------------------------------------------------------- /proc

def cpu_times() -> dict[str, int]:
    """Box-wide jiffies from /proc/stat: busy (not idle, iowait or steal),
    steal and total."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    busy = user + nice + system + irq + softirq
    return {"busy": busy, "steal": steal,
            "total": busy + idle + iowait + steal}


def jiffy_s() -> float:
    return 1.0 / os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User+system CPU seconds of one process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * jiffy_s()


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (children first)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that a
    grandchild whose parent exits first (a Python worker of the Spark JVM,
    say) is still found by ``descendants`` and stopped by
    ``stop_descendants``."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _ended(pid: int) -> bool:
    """Reap ``pid`` if it is a finished child; True once it has ended."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] != 0
    except ChildProcessError:        # not ours: its parent reaps it
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] in "ZX"
        except OSError:
            return True


def stop_descendants(grace_s: float = 15.0) -> None:
    """Wait until every process started by this one, directly or not, has
    ended: ``grace_s`` seconds for them to exit by themselves, then SIGTERM,
    then SIGKILL."""
    deadline, signals = time.monotonic() + grace_s, [signal.SIGTERM, signal.SIGKILL]
    while True:
        left = [p for p in descendants(os.getpid()) if not _ended(p)]
        if not left:
            return
        if time.monotonic() >= deadline:
            if not signals:
                log(f"processes {left} did not end after SIGKILL")
                return
            sig = signals.pop(0)
            log(f"sending {sig.name} to leftover processes {left}")
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class BoxCpu:
    """Busy/steal CPU over a region, from /proc/stat."""

    def __enter__(self) -> "BoxCpu":
        self.t0, self.c0 = time.perf_counter(), cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        c1 = cpu_times()
        self.wall_s = time.perf_counter() - self.t0
        self.busy_s = (c1["busy"] - self.c0["busy"]) * jiffy_s()
        total = max(1, c1["total"] - self.c0["total"])
        self.steal_pct = 100.0 * (c1["steal"] - self.c0["steal"]) / total


def diagnostics(steal_pct: float) -> dict:
    """Run-validity context, printed beside the metrics, never as one."""
    import numpy
    import pyspark

    return {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "steal_pct": round(steal_pct, 3),
            "python": platform.python_version(), "numpy": numpy.__version__,
            "pyspark": pyspark.__version__}


class Spans:
    """Call count and total seconds per wrapped function."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.n: dict[str, int] = {}
        self.s: dict[str, float] = {}

    def wrap(self, name: str, fn):
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                dt = time.perf_counter() - t0
                with self.lock:
                    self.n[name] = self.n.get(name, 0) + 1
                    self.s[name] = self.s.get(name, 0.0) + dt
        return timed


# ------------------------------------------------------------ statistics

def percentile(samples: list[float], q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation. Refuses a
    percentile that fewer than ten samples lie beyond."""
    if len(samples) * (1.0 - q) < 10:
        raise ValueError(f"{len(samples)} samples cannot support p{q * 100:g}")
    s = sorted(samples)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def emit(correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """The result line: always the last line on stdout."""
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
