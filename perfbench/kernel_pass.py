"""Single-process kernel pass: per-stage self times and memo hit rates.

The pass calls ``operators.assemble.extract_doc_arrays`` on first-seen docs,
cold (every kernel memo cleared first), once untraced and once with the
stage functions that ``assemble`` calls wrapped in timers. Each wrapped
stage's self time is its own duration; ``assemble``'s self time is the
``extract_doc_arrays`` total minus the wrapped stages.
"""

from __future__ import annotations

import importlib
import time

#: kernel modules whose functools memos the hit rates cover
MEMO_MODULES = ("operators.segmenter", "operators.ner", "operators.header",
                "operators.leftnote", "operators.subentity", "operators.body",
                "functions.textnorm", "functions.sentences")

#: names ``operators.assemble`` binds to stage functions -> layer name
STAGES = {
    "segment_doc": "operators.segmenter",
    "label_body_line_fitted": "operators.body",
    "parse_header_zone": "operators.header",
    "parse_leftnote_zone": "operators.leftnote",
    "extract_entities": "operators.ner",
    "split_sentences": "functions.sentences",
}

PKG = "grobid_medical_report_spark."


def _memos(mod: str):
    m = importlib.import_module(PKG + mod)
    fns = (getattr(m, n) for n in dir(m))
    # only the module's own memos, not ones it imported from another
    return [f for f in fns if hasattr(f, "cache_info")
            and getattr(f, "__module__", None) == m.__name__]


def memo_infos() -> dict[str, list[tuple[int, int]]]:
    """(hits, misses) of each ``lru_cache`` in each kernel module."""
    out = {}
    for mod in MEMO_MODULES:
        out[mod] = [(f.cache_info().hits, f.cache_info().misses)
                    for f in _memos(mod)]
    return out


def clear_memos() -> None:
    """Empty every kernel memo: ``lru_cache`` wrappers and ``*_CACHE``
    dicts."""
    for mod in MEMO_MODULES:
        m = importlib.import_module(PKG + mod)
        for n in dir(m):
            obj = getattr(m, n)
            if hasattr(obj, "cache_clear"):
                obj.cache_clear()
            elif isinstance(obj, dict) and n.endswith("_CACHE"):
                obj.clear()


def _arrays(doc: dict) -> tuple:
    sp = doc["spans"]
    return (doc["doc_id"], [s["kind"] for s in sp], [s["text"] for s in sp],
            [s["media_ref"] for s in sp], [s["offset"] for s in sp])


def _pass(arrays: list[tuple]) -> tuple[float, list[str]]:
    from grobid_medical_report_spark.operators import assemble

    clear_memos()
    bad = []
    t0 = time.perf_counter()
    for a in arrays:
        if assemble.extract_doc_arrays(*a)["status"] != "ok":
            bad.append(a[0])
    return time.perf_counter() - t0, bad


def run(docs: list[dict]) -> tuple[dict, list[str]]:
    """Untraced then traced cold pass over ``docs``. Returns per-layer
    metrics and the ids of docs that did not come back ``ok``."""
    from grobid_medical_report_spark.operators import assemble
    from perfbench.common import Spans

    arrays = [_arrays(d) for d in docs]
    n = len(arrays)
    _pass(arrays[: max(1, n // 10)])   # one-time costs the memos do not hold
    plain_s, bad = _pass(arrays)

    spans = Spans()
    originals = {name: getattr(assemble, name) for name in STAGES}
    try:
        for name, fn in originals.items():
            setattr(assemble, name, spans.wrap(name, fn))
        clear_memos()
        before = memo_infos()
        t0 = time.perf_counter()
        for a in arrays:
            assemble.extract_doc_arrays(*a)
        traced_s = time.perf_counter() - t0
        after = memo_infos()
    finally:
        for name, fn in originals.items():
            setattr(assemble, name, fn)

    m: dict[str, tuple[float, str]] = {}
    stage_s = 0.0
    for name, layer in STAGES.items():
        s = spans.s.get(name, 0.0)
        stage_s += s
        m[f"{layer}.self_ms_per_doc"] = (s * 1e3 / n, "ms")
    m["operators.assemble.self_ms_per_doc"] = ((traced_s - stage_s) * 1e3 / n,
                                               "ms")
    m["operators.ner.calls_per_doc"] = (spans.n.get("extract_entities", 0) / n,
                                        "count")
    m["operators.body.calls_per_doc"] = (
        spans.n.get("label_body_line_fitted", 0) / n, "count")
    m["kernel.docs_per_s_1proc"] = (n / plain_s, "1/s")
    # traced self times (which sum to the traced total) over the untraced
    # total: 1.0 means the stage split accounts for the untraced kernel time
    m["kernel.stage_sum_ratio"] = (traced_s / plain_s, "ratio")
    for mod in MEMO_MODULES:
        hits = sum(a[0] - b[0] for a, b in zip(after[mod], before[mod]))
        miss = sum(a[1] - b[1] for a, b in zip(after[mod], before[mod]))
        m[f"memo.{mod.split('.')[-1]}.hit_rate"] = (
            hits / (hits + miss) if hits + miss else 0.0, "ratio")
    return m, bad
