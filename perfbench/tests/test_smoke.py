"""Smoke test of every workload at a tiny input size, in both trace modes.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Each case starts its own Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import ROOT_SPAN, Tracer, set_self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_spec_names_the_workloads_run_py_knows():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_production_generator_is_seeded_and_ledger_adds_up(tmp_path):
    kw = dict(n_files=2, rows_per_file=500, invalid_frac=0.3, multi_error_frac=0.3,
              dup_frac=0.05, unknown_operator_frac=0.05)
    a = gen.gen_production(str(tmp_path / "a"), 7, **kw)
    b = gen.gen_production(str(tmp_path / "b"), 7, **kw)
    for fa, fb in zip(a.files, b.files):
        with open(fa) as x, open(fb) as y:
            assert x.read() == y.read()
    assert a.total == a.valid + a.invalid == 1000
    assert sum(a.error_types.values()) == a.errors >= a.invalid > 0
    assert {"UNIQUE", "OUTLIER", "REFERENTIAL"} <= set(a.error_types)


def test_corpus_generator_plants_what_its_ledger_says():
    rows, ledger = gen.gen_corpus(3, n_docs=400)
    assert len(rows) == ledger.n_docs == 400
    assert len(ledger.exact_dup_ids) == 20 and len(ledger.near_dup_pairs) == 40
    text = {r[0]: r[1] for r in rows}
    for a, b in ledger.near_dup_pairs:
        assert a < b
        diff = [x != y for x, y in zip(text[a].split(), text[b].split())]
        assert sum(diff) == 1


class _NoSpark:
    """Stands in for a session: spans only set job groups on it."""

    class sparkContext:
        @staticmethod
        def setJobGroup(*args):
            pass

        @staticmethod
        def setLocalProperty(*args):
            pass


def _coverage_failure_of_op(unwrapped_s: float):
    """Trace an op whose layer span sleeps 0.2 s, followed by
    ``unwrapped_s`` of sleep inside no layer span."""
    tr = Tracer(_NoSpark)
    t = time.perf_counter()
    with tr.span(ROOT_SPAN):
        with tr.span("ops.text.ingest"):
            time.sleep(0.2)
        time.sleep(unwrapped_s)
    op_s = time.perf_counter() - t
    set_self_times(tr.spans)
    return run.coverage_failure(tr.spans, op_s)


def test_coverage_check_fails_on_time_outside_layer_spans():
    assert _coverage_failure_of_op(0.0) is None
    assert "below" in _coverage_failure_of_op(0.1)


def test_stream_ledger_drops_the_extension_rules(tmp_path):
    ledger = gen.gen_production(str(tmp_path), 11, n_files=2, rows_per_file=500, invalid_frac=0.3,
                                multi_error_frac=0.3, dup_frac=0.05, unknown_operator_frac=0.05)
    base = ledger.base
    assert base.total == ledger.total and base.files == ledger.files
    assert not {"UNIQUE", "OUTLIER", "REFERENTIAL"} & set(base.error_types)
    assert base.error_types["DUPLICATE"] > 0 and base.invalid < ledger.invalid


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_workload_runs_and_checks_its_output(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
