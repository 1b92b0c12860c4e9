"""Seeded inputs: which corpus documents a run sees, and their parquet sets.

A seed owns a window of ``WINDOW`` consecutive ``corpus.generate_doc``
indices; every set a run uses is a disjoint slice of that window, so each
document a timed region reads is first-seen in its session. Parquet sets are
cached under ``.perfbench_cache`` by name, seed, size, file count and a hash
of ``corpus.py``, so a generator change never reuses stale data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

from .common import CACHE, PACKAGE, ROOT

WINDOW = 100_000
BASE = 10_000_000

#: where each slice of a seed's window starts
SETUP = 0          # Spark set-ups' 16-doc sets; service set-ups' one-page docs
WARMUP = 1_000     # wakes every Python worker before timing
TIMED = 10_000     # timed job sets, back to back
LADDER = 80_000    # the traced Spark ladder's sets
POOL = 95_000      # the service's request pool

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")

#: the service pool's cells, (size bucket, page count) -> docs. Every
#: page count corpus.generate_doc draws appears, in proportion to its
#: probability (buckets 60/35/5 %, page counts uniform within a bucket), so
#: the pool's work per request does not hang on which long docs a seed's
#: window happens to hold.
POOL_CELLS = {**{("small", p): 100 for p in range(1, 3)},
              **{("medium", p): 30 for p in range(3, 7)},
              **{("giant", p): 1 for p in range(8, 25)}}


def first_index(seed: int) -> int:
    return BASE + (seed % 1_000_000) * WINDOW


def corpus_hash() -> str:
    with open(os.path.join(ROOT, PACKAGE, "corpus.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def input_doc(i: int) -> dict:
    """The program's input for corpus index ``i``: doc id and the four
    contract span fields, nothing of the generator's golden side."""
    from grobid_medical_report_spark.corpus import generate_doc

    d = generate_doc(i)
    return {"doc_id": d["doc_id"],
            "spans": [{k: s[k] for k in SPAN_FIELDS} for s in d["spans"]]}


def pool_indices(lo: int, scale: float = 1.0) -> list[int]:
    """The service pool: ``POOL_CELLS``, each cell's count times ``scale``
    (at least one)."""
    return pick(lo, {c: max(1, round(k * scale)) for c, k in POOL_CELLS.items()})


def pick(lo: int, cells: dict[tuple[str, int], int]) -> list[int]:
    """The first docs from ``lo`` on that fill ``cells``, (size bucket, page
    count) -> number of docs."""
    from grobid_medical_report_spark.corpus import generate_doc

    want = dict(cells)
    out, i = [], lo
    while any(want.values()):
        d = generate_doc(i)
        cell = (d["bucket"], d["n_pages"])
        if want.get(cell):
            want[cell] -= 1
            out.append(i)
        i += 1
    return out


def _gen_file(lo: int, hi: int, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = [input_doc(i) for i in range(lo, hi)]
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    pq.write_table(pa.table({"doc_id": [d["doc_id"] for d in docs],
                             "spans": [d["spans"] for d in docs]},
                            schema=schema), path)


def parquet_set(name: str, lo: int, n: int, files: int, procs: int) -> str:
    """Directory of ``files`` parquet files holding docs ``lo .. lo+n-1``,
    generated once by ``procs`` child processes and then reused."""
    key = f"{name}-i{lo}-n{n}-f{files}-c{corpus_hash()}"
    path = os.path.join(CACHE, key)
    if os.path.isdir(path):
        return path
    part = path + ".partial"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    bounds = [lo + n * k // files for k in range(files + 1)]
    jobs = [(bounds[k], bounds[k + 1], os.path.join(part, f"part-{k:03d}.parquet"))
            for k in range(files)]
    # plain child processes, each waited for: a multiprocessing pool would
    # leave its resource-tracker process running until this one exits
    n_procs = min(procs, files)
    children = [subprocess.Popen([sys.executable, "-m", "perfbench.inputs",
                                  json.dumps(jobs[k::n_procs])], cwd=ROOT)
                for k in range(n_procs)]
    try:
        codes = [c.wait() for c in children]
    finally:
        for c in children:
            if c.poll() is None:
                c.kill()
                c.wait()
    if any(codes):
        raise RuntimeError(f"input generation for {key} failed: exit codes {codes}")
    os.rename(part, path)
    return path


def doc_ids_of(idx) -> list[str]:
    from grobid_medical_report_spark.corpus import doc_id_str

    return [doc_id_str(i) for i in idx]


def doc_ids(lo: int, n: int) -> list[str]:
    return doc_ids_of(range(lo, lo + n))


if __name__ == "__main__":     # python3 -m perfbench.inputs '[[lo, hi, path], ...]'
    for lo_, hi_, path_ in json.loads(sys.argv[1]):
        _gen_file(lo_, hi_, path_)
