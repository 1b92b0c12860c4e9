"""Output checks. Each returns a list of failure messages; an empty list
means the outputs are correct. Expected values are always computed
in-process, outside any timed region."""

from __future__ import annotations

import json
import random
import zlib
from typing import Any


def crc_sum(ids: list[str]) -> int:
    """Sum of CRC-32 of the doc ids: equals Spark's ``sum(crc32(doc_id))``."""
    return sum(zlib.crc32(i.encode("utf-8")) for i in ids)


def sample_idx(lo: int, n: int, seed: int, k: int) -> list[int]:
    """A seeded sample of ``k`` corpus indices out of ``lo .. lo+n-1``."""
    return sorted(random.Random(seed).sample(range(lo, lo + n), min(k, n)))


def check_counts(got: dict[str, int], ids: list[str]) -> list[str]:
    """One ``ok`` row per attempted doc id, no more, no other."""
    n = len(ids)
    want = {"rows": n, "distinct_ids": n, "ok_rows": n, "id_crc": crc_sum(ids)}
    return [f"{k}: got {got.get(k)} want {v}"
            for k, v in want.items() if got.get(k) != v]


def _plain(x: Any) -> Any:
    """Kernel output as JSON would carry it (tuples->lists, numpy->python)."""
    return json.loads(json.dumps(
        x, default=lambda o: o.item() if hasattr(o, "item") else str(o)))


def _project(want: Any, got: Any) -> Any:
    """``want`` reduced to the fields Spark's schema carries in ``got``."""
    if isinstance(got, dict) and isinstance(want, dict):
        return {k: _project(want.get(k), v) for k, v in got.items()}
    if isinstance(got, list) and isinstance(want, list) and len(got) == len(want):
        return [_project(w, g) for w, g in zip(want, got)]
    return want


def expected_row(doc: dict) -> dict:
    from grobid_medical_report_spark.operators.assemble import extract_doc

    r = _plain(extract_doc(doc["doc_id"], doc["spans"]))
    r["n_pages"] = sum(1 for s in r["spans"] if s["kind"] == "page")
    return r


def check_rows(got_json: list[str], docs: dict[str, dict]) -> list[str]:
    """Spark rows (``to_json`` of the public columns, nulls kept) against
    in-process ``extract_doc`` output for the same input docs."""
    fails = []
    seen = set()
    for raw in got_json:
        got = json.loads(raw)
        did = got.get("doc_id")
        seen.add(did)
        if did not in docs:
            fails.append(f"unexpected sampled row {did}")
            continue
        want = expected_row(docs[did])
        missing = set(got) - set(want)
        if missing:
            fails.append(f"{did}: kernel output lacks {sorted(missing)}")
        elif _project(want, got) != got:
            fails.append(f"{did}: Spark output differs from extract_doc")
    for did in set(docs) - seen:
        fails.append(f"{did}: sampled doc missing from the output")
    return fails
