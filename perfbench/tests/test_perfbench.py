"""The benchmark's own tests: every declared metric is emitted with its
unit, a corrupted result is counted as a failure, and the registry's
documents table keeps the shape of the reference tables.

The run cases start the benchmark in a subprocess at the tiny input
size (its own JVM, about half a minute each). Run from the checkout
root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ["extract_mix", "resumable_mix"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
LEAVES = [
    m["name"][len("registry."):-len("_s")]
    for m in SPEC["per_layer"]
    if m["name"].startswith("registry.") and m["name"].endswith("_s")
]


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout.strip().splitlines(), _last_json(p.stdout)


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_end_to_end_metric(workload):
    lines, result = _run(workload, trace=0)
    _assert_metrics(result, SPEC["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])
    # the report names every metric with its unit and sample count
    for m in SPEC["end_to_end"] + [{"name": "error_rate", "unit": "ratio"}]:
        line = next(ln for ln in lines if ln.startswith(f"metric {workload} {m['name']} "))
        assert line.split()[4] == m["unit"] and line.split()[5].startswith("n=")
    assert any(ln.startswith(f"verdict workload={workload} correct=true") for ln in lines)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_metric(workload):
    lines, result = _run(workload, trace=1)
    _assert_metrics(result, SPEC["per_layer"])
    m = result["metrics"]
    assert m["segment.turns_sampled"]["value"] > 0
    if workload == "resumable_mix":
        assert m["checkpoint.waves"]["value"] >= 2
    else:
        # the registry leaves are priced in extract_mix's traced run
        assert all(m[f"registry.{leaf}_s"]["value"] > 0 for leaf in LEAVES)
        assert any(ln.startswith("check registry.bm25_retrieval_topk ok") for ln in lines)
    assert any(ln.startswith(f"layer {workload} trace.overhead_pct ") for ln in lines)


def test_documents_table_has_the_reference_shape(tmp_path):
    sys.path.insert(0, ROOT)
    import pyarrow.parquet as pq

    from perfbench import inputs

    path, meta = inputs.documents(str(tmp_path), 1000)
    d = pq.read_table(os.path.join(path, "documents.parquet")).to_pandas()
    assert meta["n_docs"] == len(d) == 1000
    dups = d.text.str.endswith(" dup")
    assert dups.sum() == 1000 // inputs.DUP_EVERY
    assert d.text[dups].str[: -len(" dup")].isin(set(d.text)).mean() > 0.9
    words = d.text[~dups].str.split()
    assert words.str.len().between(10, 100).all()
    assert set(words.explode()) == set(inputs._VOCAB)
    assert (d.n_chars == d.text.str.len()).all()
    assert (d.source == "src" + (d.doc_id % 20).astype(str)).all()
    assert set(d.lang) == set(inputs._LANGS)


def _run_patched(patch: str, workload: str) -> dict:
    """Run one workload in-process in a fresh interpreter after ``patch``
    (Python source with ``workloads`` in scope) corrupts the engine."""
    code = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        from perfbench import run
        run.prepare_env(run.ROOT)
        from perfbench import bench, workloads
        """
    ) + textwrap.dedent(patch) + textwrap.dedent(
        f"""
        lines, result = bench.run(run.ROOT, {workload!r}, 1, 1, False, "tiny")
        print(json.dumps(result))
        """
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return _last_json(p.stdout)


def test_dropped_turn_counts_as_failure():
    result = _run_patched(
        """
        real = workloads.extract
        workloads.extract = lambda df: real(df).filter("turn_idx != 0")
        """,
        "extract_mix",
    )
    assert result["correct"] is False
    assert result["failed"] >= 1


def test_lost_wave_counts_as_failure():
    # the resume call stops one wave short: buckets are missing
    result = _run_patched(
        """
        real = workloads.checkpoint.run_resumable

        def short(df, out, max_waves=None, **kw):
            return real(df, out, max_waves=1 if max_waves is None else max_waves, **kw)

        workloads.checkpoint.run_resumable = short
        """,
        "resumable_mix",
    )
    assert result["correct"] is False
    assert result["failed"] >= 2  # exactly-once and checksum both fail
