"""The traced run (``--trace 1``): every per-layer metric, whichever
workload is named.

Spans are recorded from the benchmark's own code, around its calls into
each layer; nothing inside the program is changed. The layers:

* kernel stages and memo hit rates: ``kernel_pass`` on first-seen
  ``batch_cold`` docs, in this process, cold;
* Spark boundaries: a ladder of jobs on ``batch_cold``-sized inputs, each
  adding one layer (scan+flatten, + identity Arrow round trip, + kernel,
  + aggregate sink), each on its own first-seen docs where the kernel runs;
* checkpoint job: ``run_with_checkpoint`` with the pyspark writer and
  ``collect`` calls it makes wrapped in timers;
* service: the launcher's wrapped handler, kernel call and TEI renderer.

Each traced e2e path is also run untraced in the same process, so the run
reports its own overhead.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from statistics import median

from . import checks, inputs, kernel_pass, service_loop, spark_jobs
from .common import BoxCpu, Spans, log, nproc


def _flat(df):
    """The input projection ``plans.pipeline.extract`` applies before its
    Python stage: four primitive arrays from the span structs."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("doc_id"),
        F.transform("spans", lambda s: s["kind"]).alias("in_kinds"),
        F.transform("spans", lambda s: s["text"]).alias("in_texts"),
        F.transform("spans", lambda s: s["media_ref"]).alias("in_refs"),
        F.transform("spans", lambda s: s["offset"]).alias("in_offsets"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *a) -> float:
    t0 = time.perf_counter()
    fn(*a)
    return time.perf_counter() - t0


def _identity(batches):
    yield from batches


@contextmanager
def _wrapped(spans: Spans, cls, name: str, label):
    """Time every ``cls.name`` call under ``label(self, *args)``."""
    orig = getattr(cls, name)

    def timed(self, *a, **k):
        return spans.wrap(label(self, *a), orig)(self, *a, **k)
    setattr(cls, name, timed)
    try:
        yield
    finally:
        setattr(cls, name, orig)


def _write_kind(_writer, path, *a) -> str:
    p = str(path).rstrip("/")
    if p.endswith("_staged_input"):
        return "stage_write"
    if p.endswith("_checkpoint"):
        return "ckpt_append"
    return "chunk_write"


class Sets:
    """First-seen ``job_docs``-sized parquet sets from the ladder slice."""

    def __init__(self, cfg, seed: int):
        self.cfg, self.next = cfg, inputs.first_index(seed) + inputs.LADDER

    def take(self) -> tuple[str, int]:
        lo = self.next
        self.next += self.cfg.job_docs
        return inputs.parquet_set("ladder", lo, self.cfg.job_docs,
                                  self.cfg.files, nproc()), lo


def _check_job(got: dict, lo: int, n: int, sample: list[int]) -> list[str]:
    want = {d["doc_id"]: d for d in map(inputs.input_doc, sample)}
    return (checks.check_counts(got, inputs.doc_ids(lo, n))
            + checks.check_rows(got["sample"], want))


def _checkpoint(spark, sets: Sets, tmp: str, name: str) -> tuple[float, str, int]:
    """Time one ``run_with_checkpoint`` on fresh docs."""
    path, lo = sets.take()
    out_dir = os.path.join(tmp, name)
    return _timed(spark_jobs.checkpoint_run, spark, [path], out_dir), out_dir, lo


def _check_checkpoint(spark, out_dir: str, lo: int, seed: int,
                      cfg) -> list[str]:
    from grobid_medical_report_spark.plans.checkpoint import read_results

    sample = checks.sample_idx(lo, cfg.job_docs, seed, cfg.sample)
    got = spark_jobs.aggregate_sink(read_results(spark, out_dir).drop("part_id"),
                                    inputs.doc_ids_of(sample))
    return _check_job(got, lo, cfg.job_docs, sample)


def spark_layers(cfg, seed: int,
                 tmp: str) -> tuple[dict, list[str], int, float]:
    """Boundary ladder and checkpoint layers; also returns the docs checked
    and the ladder's full-job rate."""
    from grobid_medical_report_spark.plans.pipeline import extract

    sets = Sets(cfg, seed)
    n = cfg.job_docs
    scan_set, _ = sets.take()
    fails: list[str] = []
    m: dict[str, tuple[float, str]] = {}
    spark = spark_jobs.start()
    try:
        # warm-up: one checkpoint job wakes the workers, the kernel and the
        # write path before anything is timed
        _, out, lo = _checkpoint(spark, sets, tmp, "ckpt-warm")
        fails += _check_checkpoint(spark, out, lo, seed, cfg)
        src = spark.read.parquet(scan_set)
        reps = 3
        m["plans.pipeline.scan_s"] = (median(
            [_timed(_noop, _flat(src)) for _ in range(reps)]), "s")
        arrow = _flat(src)
        arrow = arrow.mapInPandas(_identity, schema=arrow.schema)
        m["plans.pipeline.arrow_roundtrip_s"] = (median(
            [_timed(_noop, arrow) for _ in range(reps)]), "s")
        path, _ = sets.take()
        extract_s = _timed(_noop, extract(spark.read.parquet(path)))
        m["plans.pipeline.extract_s"] = (extract_s, "s")
        path, lo = sets.take()
        sample = checks.sample_idx(lo, n, seed, cfg.sample)
        t0 = time.perf_counter()
        got = spark_jobs.aggregate_sink(extract(spark.read.parquet(path)),
                                        inputs.doc_ids_of(sample))
        full_s = time.perf_counter() - t0
        fails += _check_job(got, lo, n, sample)
        m["plans.pipeline.sink_s"] = (full_s - extract_s, "s")

        # checkpoint job, untraced then traced, each on its own docs
        plain_s, out, lo = _checkpoint(spark, sets, tmp, "ckpt-plain")
        fails += _check_checkpoint(spark, out, lo, seed, cfg)
        spans = Spans()
        writer_cls, df_cls = type(src.write), type(src)
        with _wrapped(spans, writer_cls, "parquet", _write_kind), \
                _wrapped(spans, df_cls, "collect", lambda *_: "readback"):
            traced_s, out, lo = _checkpoint(spark, sets, tmp, "ckpt-traced")
        fails += _check_checkpoint(spark, out, lo, seed, cfg)
        for k in ("stage_write", "chunk_write", "readback", "ckpt_append"):
            m[f"plans.checkpoint.{k}_s"] = (spans.s.get(k, 0.0), "s")
        m["plans.checkpoint.chunks"] = (spans.n.get("chunk_write", 0), "count")
        m["trace.checkpoint_overhead_share"] = (traced_s / plain_s - 1, "ratio")
    finally:
        spark_jobs.shutdown(spark)
    return m, fails, 4 * n, n / full_s


def service_layers(cfg, seed: int, seconds: float) -> tuple[dict, list[str], int]:
    base = inputs.first_index(seed)
    pool = service_loop.Pool(inputs.pool_indices(base + inputs.POOL, cfg.pool_scale))
    m: dict[str, tuple[float, str]] = {}
    rates, fails, attempted = {}, [], 0
    for traced in (False, True):
        srv, _ = service_loop.start_checked(pool, 0, trace=traced)
        try:
            fails += service_loop.cold_pass(srv, pool)
            s0 = srv.stats()
            res = service_loop.closed_loop(srv, pool, service_loop.CLIENTS,
                                             seconds / 2, seed)
            s1 = srv.stats()
        finally:
            srv.close()
        n = len(res["lat"])
        attempted += n
        fails += res["bad"][:20]
        rates[traced] = n / res["wall_s"]
    d = {k: s1["s"].get(k, 0.0) - s0["s"].get(k, 0.0) for k in s1["s"]}
    c = {k: s1["n"].get(k, 0) - s0["n"].get(k, 0) for k in s1["n"]}
    handle_ms = d["handle"] * 1e3 / c["handle"]
    m["service.handle_ms"] = (handle_ms, "ms")
    m["service.kernel_ms"] = (d["kernel"] * 1e3 / c["kernel"], "ms")
    m["functions.tei.render_ms"] = (d["tei"] * 1e3 / c["tei"], "ms")
    m["service.http_json_ms"] = (sum(res["lat"]) / n - handle_ms, "ms")
    m["service.server_cpu_share"] = (res["server_cpu_s"] / res["box"].busy_s,
                                     "ratio")
    hits = s1["memo_hits"] - s0["memo_hits"]
    miss = s1["memo_misses"] - s0["memo_misses"]
    m["service.memo_hit_rate"] = (hits / max(1, hits + miss), "ratio")
    m["trace.service_overhead_share"] = (rates[False] / rates[True] - 1, "ratio")
    return m, fails, attempted


def run(workload: str, cfg, seed: int, seconds: float, tmp: str) -> dict:
    log(f"traced run (workload {workload}): every layer is measured")
    lo = inputs.first_index(seed) + inputs.TIMED
    docs = [inputs.input_doc(i) for i in range(lo, lo + cfg.kernel_docs)]
    with BoxCpu() as box:
        km, bad = kernel_pass.run(docs)
        sm, fails, attempted, batch_rate = spark_layers(cfg, seed, tmp)
        vm, vfails, vattempted = service_layers(cfg, seed, seconds)
    fails += [f"{d}: kernel status not ok" for d in bad] + vfails
    metrics = {**km, **sm, **vm}
    metrics["spark.efficiency"] = (
        batch_rate / (nproc() * km["kernel.docs_per_s_1proc"][0]), "ratio")
    return {"attempted": len(docs) + attempted + vattempted,
            "failed": len(fails), "fails": fails, "steal_pct": box.steal_pct,
            "metrics": metrics}
