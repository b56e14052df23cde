"""Smoke test for the benchmark itself.

    python -m pytest perfbench/test_smoke.py -q

The checker tests need only DuckDB and pyarrow.  The workload tests run
``perfbench/run.py`` at a tiny scale in a subprocess (a few minutes in
all) and check that every metric named in BENCHMARK.json is emitted with
its unit and that no operation failed, on two seeds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from checks import quarantine_failures, turn_failures
from inputs import FIXTURE_SCHEMA

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _turn(conv_id, turn_idx, text, expect="ok", committed=False):
    span = [{"start": 0, "end": len(text), "kind": "content", "block_idx": 0}]
    return {"conv_id": conv_id, "turn_idx": turn_idx, "payload_kind": "plain",
            "text_md": text, "text_plain": text, "spans": span if text else [],
            "n_blocks": int(bool(text)), "n_chars": len(text),
            "expect": expect, "committed": committed}


FIXTURES = [_turn("c1", 0, "alpha"), _turn("c1", 1, "beta"),
            _turn("c2", 0, "gamma", committed=True),
            _turn("c2", 1, "", expect="malformed_payload"),
            _turn(None, 2, "", expect="null_key")]
GOOD = FIXTURES[:3]


def _write(rows, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, FIXTURE_SCHEMA),
                   os.path.join(path, "part-0.parquet"))
    return path


@pytest.mark.parametrize("output, failed", [
    (GOOD, 0),
    ([GOOD[0], {**GOOD[1], "text_md": "betA"}, GOOD[2]], 1),   # corrupted
    ([GOOD[0], {**GOOD[1], "n_chars": 5}, GOOD[2]], 1),        # wrong count
    (GOOD[:2], 1),                                              # missing
    (GOOD + [GOOD[0]], 1),                                      # twice
    (GOOD + [FIXTURES[3]], 1),                                  # bad row kept
])
def test_turn_checker_counts_each_kind_of_failure(tmp_path, output, failed):
    fixtures = _write(FIXTURES, str(tmp_path / "fx"))
    out = _write(output, str(tmp_path / "out"))
    assert turn_failures(out, fixtures) == (3, failed)


def test_turn_checker_pending_only_counts_uncommitted(tmp_path):
    fixtures = _write(FIXTURES, str(tmp_path / "fx"))
    out = _write(GOOD[:2], str(tmp_path / "out"))   # committed turn lost
    assert turn_failures(out, fixtures, only_pending=True) == (2, 1)


def test_quarantine_checker(tmp_path):
    fixtures = _write(FIXTURES, str(tmp_path / "fx"))
    exact = [("c2", 1, "malformed_payload"), ("", 2, "null_key")]
    assert quarantine_failures(exact, fixtures) == (2, 0)
    assert quarantine_failures(exact[:1], fixtures) == (2, 1)
    assert quarantine_failures(exact + [("c1", 0, "null_key")],
                               fixtures) == (2, 1)


def _run(cwd, workload, seed, trace):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.mark.parametrize("trace, seed", [(0, 1), (0, 7), (1, 1)])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric_without_failures(workload, seed, trace):
    proc = _run(ROOT, workload, seed, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    expected = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected}
    if not trace:
        assert result["metrics"]["ok_share"]["value"] == 1.0
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 1, 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
