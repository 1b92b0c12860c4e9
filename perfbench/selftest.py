"""Self-test of the benchmark at smoke size.

    python3 perfbench/selftest.py

Asserts that every workload, untraced, prints exactly the end-to-end
metrics ``BENCHMARK.json`` names, each with its unit; that a traced run
prints exactly the per-layer metrics; that a dropped doc or a non-200
response fails the run (exit code non-zero, ``correct`` false); and that a
sampled row differing from ``extract_doc`` fails the row check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int = 0, fault: str | None = None) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"]
    if fault:
        cmd += ["--fault", fault]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd}: no result line; stderr:\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


def expect_metrics(res: dict, specs: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metrics {got} != {want}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float), f"{what}: {k} is not a number"


def row_check_catches_a_changed_span() -> None:
    """``checks.check_rows`` against a Spark-shaped row that differs from
    ``extract_doc`` in one span's text."""
    sys.path.insert(0, ROOT)
    from perfbench import checks, inputs

    doc = inputs.input_doc(inputs.first_index(3))
    row = checks.expected_row(doc)
    assert checks.check_rows([json.dumps(row)], {doc["doc_id"]: doc}) == []
    row["spans"][0]["text"] += "x"
    assert checks.check_rows([json.dumps(row)], {doc["doc_id"]: doc})
    print("ok   a changed span fails the row check", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    row_check_catches_a_changed_span()
    for w in spec["workloads"]:
        name = w["name"]
        code, res = run(name)
        assert code == 0 and res["correct"] and res["failed"] == 0, (name, res)
        assert res["attempted"] >= 1
        expect_metrics(res, spec["end_to_end"], name)
        print(f"ok   {name}: {len(res['metrics'])} end-to-end metrics", flush=True)

    code, res = run("batch_cold", trace=1)
    assert code == 0 and res["correct"], res
    expect_metrics(res, spec["per_layer"], "trace")
    print(f"ok   traced run: {len(res['metrics'])} per-layer metrics", flush=True)

    for workload, fault in (("batch_cold", "drop_doc"),
                            ("job_checkpoint", "drop_doc"),
                            ("service_repeat", "bad_status")):
        code, res = run(workload, fault=fault)
        assert code != 0 and not res["correct"] and res["failed"] >= 1, \
            (workload, fault, code, res)
        print(f"ok   {workload} --fault {fault}: run fails", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
