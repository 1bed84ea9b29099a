"""The benchmark's own tests: seeded inputs are reproducible, and a tiny
run of every workload prints every metric of BENCHMARK.json with no
failed operation.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

SMOKE_SCALE = 0.001


def _digest(tables: dict, d) -> dict:
    inputs.write_tables(tables, str(d))
    return {n: hashlib.sha256((d / f"{n}.parquet").read_bytes()).hexdigest() for n in tables}


@pytest.mark.parametrize("make", [
    lambda seed: inputs.relational_tables(seed, SMOKE_SCALE),
    lambda seed: {f"b{i}": t for i, t in enumerate(inputs.stream_batches(seed, SMOKE_SCALE))},
], ids=["relational", "stream"])
def test_same_seed_same_bytes_other_seed_other_bytes(make, tmp_path):
    a = _digest(make(7), tmp_path / "a")
    b = _digest(make(7), tmp_path / "b")
    c = _digest(make(8), tmp_path / "c")
    assert a == b
    assert a != c


def test_call_sequence_is_seeded():
    a = inputs.interactive_calls(7, 2)
    assert a == inputs.interactive_calls(7, 2)
    assert a != inputs.interactive_calls(8, 2)
    assert len(a) == 2 * inputs.BLOCK_SIZE
    kinds = sorted(c["kind"] for c in a[:inputs.BLOCK_SIZE])
    assert kinds == sorted(kind for kind in
                           [s.split(":")[0] for s in inputs.BLOCK_DF if not s.startswith("repeat")]
                           + ["stat"] + ["query"] * len(inputs.QUERY_CLASSES))


def test_stream_duplicates_point_at_earlier_batches():
    batches = inputs.stream_batches(3, SMOKE_SCALE)
    seen = set()
    for b in batches:
        d = b.to_pydict()
        assert all(src in seen for src in d["__dup_of"] if src >= 0)
        seen.update(d["doc_id"])


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SMOKE_SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["interactive", "curate_stream"])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    for m in spec["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}


def test_smoke_traced_run_prints_every_per_layer_metric():
    res = _run("curate_stream", 1)
    assert res["correct"] and res["failed"] == 0
    spec = _spec()
    assert set(res["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for m in spec["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    assert res["metrics"]["spark.jobs"]["value"] > 0
    assert res["metrics"]["trace.unattributed_jobs"]["value"] == 0


def test_missing_program_exits_nonzero(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "interactive",
                          "--seed", "1", "--seconds", "1"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
