"""The Spark workloads, ``batch_cold`` and ``job_checkpoint``.

Both workloads call the program's public entry points on parquet inputs the
benchmark wrote: ``plans.pipeline.extract`` into an aggregate sink, and
``plans.checkpoint.run_with_checkpoint`` into a fresh output directory.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field
from statistics import median

from . import checks, inputs
from .common import (BoxCpu, descendants, log, nproc, peak_rss_mb, percentile,
                     proc_cpu_s)

#: run_with_checkpoint shape: 10 logical parts in chunks of 2 = 5 chunks.
#: A doc's latency is its chunk's commit time, so chunk boundaries fall at
#: 20/40/60/80 % of the docs, away from p50 (4 chunks put one right on it)
N_PARTS, CHUNK = 10, 2
RUN_ID = "perfbench"


def start() -> "SparkSession":
    from grobid_medical_report_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def aggregate_sink(out, sample: list[str]) -> dict:
    """Consume every output row in one job: the per-doc checks plus the
    full public rows of the sampled docs."""
    from pyspark.sql import functions as F

    row = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("doc_id").alias("distinct_ids"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok_rows"),
        F.sum(F.crc32(F.col("doc_id").cast("binary"))).alias("id_crc"),
        F.sum(F.size("spans")).alias("spans"),
        F.collect_list(F.when(
            F.col("doc_id").isin(sample),
            F.to_json(F.struct(*out.columns), {"ignoreNullFields": "false"}),
        )).alias("sample"),
    ).collect()[0]
    return row.asDict()


def _tree_cpu() -> dict[str, float]:
    """CPU seconds of the JVM and of the Python workers under it."""
    out: dict[str, float] = {}
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
            out[kind] = out.get(kind, 0.0) + proc_cpu_s(p)
        except OSError:
            continue
    return out


@dataclass
class Job:
    """One timed unit: its input docs, and what came back."""
    lo: int
    n: int
    paths: list[str]
    sample: list[int] = field(default_factory=list)
    seconds: float = 0.0
    got: dict = field(default_factory=dict)
    lat_ms: list[float] = field(default_factory=list)  # one per doc
    out_dir: str = ""


def _setups(cfg, seed: int) -> tuple[object, list[float]]:
    """Set up ``cfg.setups`` times: each is a fresh session (the first also
    launches the JVM) through to the first checked extraction, on its own
    first-seen docs. Returns the live session and the timings."""
    lo0 = inputs.first_index(seed) + inputs.SETUP
    spark, times = None, []
    for k in range(cfg.setups):
        path = inputs.parquet_set("setup", lo0 + 16 * k, 16, 4, nproc())
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start()
        got = aggregate_sink(_extract(spark, [path]), [])
        fails = checks.check_counts(got, inputs.doc_ids(lo0 + 16 * k, 16))
        times.append(time.perf_counter() - t0)
        if fails:
            raise RuntimeError(f"set-up extraction failed: {fails}")
    return spark, times


def _extract(spark, paths: list[str]):
    from grobid_medical_report_spark.plans.pipeline import extract

    return extract(spark.read.parquet(*paths))


def checkpoint_run(spark, paths: list[str], out_dir: str) -> int:
    from grobid_medical_report_spark.plans.checkpoint import run_with_checkpoint

    return run_with_checkpoint(spark, spark.read.parquet(*paths), out_dir,
                               run_id=RUN_ID, n_parts=N_PARTS, chunk_size=CHUNK)


def extract_job(spark, job: Job, tmp: str) -> None:
    """``batch_cold``: the aggregate sink is the job's output, so the
    checks' rows come back with it. Every doc's result exists when the job
    returns."""
    t0 = time.perf_counter()
    job.got = aggregate_sink(_extract(spark, job.paths),
                             inputs.doc_ids_of(job.sample))
    job.seconds = time.perf_counter() - t0
    job.lat_ms = [job.seconds * 1e3] * job.n


def checkpoint_job(spark, job: Job, tmp: str) -> None:
    """``job_checkpoint``: a doc's result exists once its chunk commits; the
    commit times come from the checkpoint table the program writes."""
    job.out_dir = os.path.join(tmp, f"ckpt-{job.lo}")
    t_wall = time.time()
    t0 = time.perf_counter()
    job.got["chunks"] = checkpoint_run(spark, job.paths, job.out_dir)
    job.seconds = time.perf_counter() - t0
    job.got["t_wall"] = t_wall


def read_back(spark, job: Job) -> None:
    """What a ``job_checkpoint`` job wrote, read after the timed region."""
    from grobid_medical_report_spark.plans.checkpoint import (_ckpt_path,
                                                              read_results)

    job.got.update(aggregate_sink(read_results(spark, job.out_dir)
                                  .drop("part_id"),
                                  inputs.doc_ids_of(job.sample)))
    parts = (spark.read.parquet(_ckpt_path(job.out_dir))
             .filter(f"run_id = '{RUN_ID}'").collect())
    job.got["parts_done"] = len({r["part_id"] for r in parts})
    job.lat_ms = [(r["committed_at"] - job.got["t_wall"]) * 1e3
                  for r in parts for _ in range(r["docs"])]


def _timed_jobs(cfg, seed: int, sets_per_job: int) -> list[Job]:
    """Back-to-back first-seen jobs of ``sets_per_job`` cached sets each."""
    lo = inputs.first_index(seed) + inputs.TIMED
    paths = [inputs.parquet_set("timed", lo + k * cfg.job_docs, cfg.job_docs,
                                cfg.files, nproc())
             for k in range(cfg.max_sets)]
    n = cfg.job_docs * sets_per_job
    return [Job(lo + j * n, n, paths[j * sets_per_job:(j + 1) * sets_per_job])
            for j in range(cfg.max_sets // sets_per_job)]


def run_workload(name: str, cfg, seed: int, seconds: float, tmp: str,
                 fault: str | None = None) -> dict:
    """One untraced run of ``batch_cold`` or ``job_checkpoint``."""
    ckpt = name == "job_checkpoint"
    run_job = checkpoint_job if ckpt else extract_job
    jobs = _timed_jobs(cfg, seed, cfg.ckpt_sets if ckpt else 1)
    wlo = inputs.first_index(seed) + inputs.WARMUP
    warm = Job(wlo, cfg.warmup_docs, [inputs.parquet_set(
        "warmup", wlo, cfg.warmup_docs, cfg.files, nproc())])
    spark, setup_times = _setups(cfg, seed)
    try:
        run_job(spark, warm, tmp)
        done: list[Job] = []
        cpu0 = _tree_cpu()
        # at least `min_jobs` jobs and at least `seconds`; memory is read
        # after exactly `min_jobs`, so a faster program that fits more jobs
        # into the time is not charged for the extra work's memory
        min_jobs = 1 if ckpt else cfg.batch_min_jobs
        with BoxCpu() as cpu:
            t_start = time.perf_counter()
            for k, job in enumerate(jobs):
                if (len(done) >= min_jobs
                        and time.perf_counter() - t_start >= seconds):
                    break
                job.sample = checks.sample_idx(job.lo, job.n, seed * 1000 + k,
                                               cfg.sample)
                run_job(spark, job, tmp)
                done.append(job)
                if len(done) == min_jobs:
                    rss = peak_rss_mb(descendants(os.getpid()))
        cpu1 = _tree_cpu()
        if ckpt:
            for job in done:
                read_back(spark, job)
    finally:
        shutdown(spark)
    if len(done) == len(jobs) and cpu.wall_s < seconds:
        log(f"all {len(jobs)} pre-generated jobs ran in {cpu.wall_s:.1f} s")

    fails, failed = [], 0
    for job in done:
        ids = inputs.doc_ids(job.lo, job.n)
        if fault == "drop_doc":        # self-test: a doc the sink never saw
            ids.append(ids[-1] + "_dropped")
        job_fails = checks.check_counts(job.got, ids)
        if ckpt and (job.got["chunks"] != N_PARTS // CHUNK
                     or job.got["parts_done"] != N_PARTS):
            job_fails.append(f"checkpoint: {job.got['chunks']} chunks, "
                             f"{job.got['parts_done']} parts committed")
        want = {d["doc_id"]: d for d in map(inputs.input_doc, job.sample)}
        job_fails += checks.check_rows(job.got["sample"], want)
        # docs missing or not ok; at least one when any check failed
        failed += max(len(ids) - (job.got.get("ok_rows") or 0), bool(job_fails))
        fails += job_fails
    n_docs = sum(j.n for j in done)
    lat = [x for j in done for x in j.lat_ms]
    return {
        "attempted": n_docs, "failed": failed, "fails": fails,
        "steal_pct": cpu.steal_pct,
        "metrics": {
            "docs_per_s": (n_docs / sum(j.seconds for j in done), "1/s"),
            "setup_s": (median(setup_times), "s"),
            "peak_rss_mb": (rss, "MB"),
            "cpu_ms_per_doc": (cpu.busy_s * 1e3 / n_docs, "ms"),
            "latency_p50_ms": (percentile(lat, 0.50), "ms"),
            "latency_p99_ms": (percentile(lat, 0.99), "ms"),
        },
        "extra": {"cpu_s_by_process": {k: round(v - cpu0.get(k, 0.0), 2)
                                       for k, v in cpu1.items()},
                  "jobs": len(done), "job_s": [round(j.seconds, 3) for j in done],
                  "setup_s_all": [round(t, 3) for t in setup_times]},
    }
