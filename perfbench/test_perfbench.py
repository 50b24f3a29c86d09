"""Self-test of the benchmark: every workload at a tiny size passes the
DuckDB check, and a corrupted output (one altered value, one dropped
row) is caught.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout; takes about a minute.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

WORK = os.path.join(HERE, ".work", "selftest")
TINY = 0.05


@pytest.fixture(scope="module")
def harness():
    shutil.rmtree(WORK, ignore_errors=True)
    run._pin_environment(WORK)
    import harness
    return harness


@pytest.fixture(scope="module")
def spark(harness):
    s = harness.get_spark(
        app_name=harness.APP,
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _bench(harness, spark, workload: str):
    args = argparse.Namespace(workload=workload, seed=7, seconds=0,
                              trace=0)
    b = harness.Bench(args, WORK, scale=TINY)
    b.spark = spark
    b._register()
    return b


@pytest.fixture(scope="module")
def backfill(harness, spark):
    b = _bench(harness, spark, "backfill_short")
    b.run_unit("t0")
    return b


@pytest.fixture(scope="module")
def request_bench(harness, spark):
    b = _bench(harness, spark, "request")
    for i in range(3):
        b.run_unit(f"t{i}")
    return b


def test_backfill_passes_oracle(backfill):
    assert not backfill.bad_units
    assert len(backfill.outputs) == len(backfill.wl.steps)
    assert backfill.check() == set()


def test_requests_pass_oracle(request_bench):
    assert not request_bench.bad_units
    assert request_bench.check() == set()


def _rewrite(b, step: str, edit) -> None:
    """Replace one step's output parquet with an edited copy."""
    import pandas as pd
    i, (label, name, path) = next(
        (i, o) for i, o in enumerate(b.outputs) if o[1] == step)
    df = edit(pd.read_parquet(path))
    bad_path = path + ".edited"
    os.makedirs(bad_path, exist_ok=True)
    df.to_parquet(os.path.join(bad_path, "part-0.parquet"))
    b.outputs[i] = (label, name, bad_path)


@pytest.mark.parametrize("step", ["sql_windows", "long_window"])
def test_altered_value_is_caught(backfill, step):
    saved = list(backfill.outputs)
    try:
        def alter(df):
            col = [c for c in df.columns if c.startswith("sum_")][0]
            df.loc[df.index[len(df) // 2], col] += 0.01
            return df
        _rewrite(backfill, step, alter)
        assert backfill.check() == {"t0"}
    finally:
        backfill.outputs[:] = saved


def test_dropped_row_is_caught(backfill):
    saved = list(backfill.outputs)
    try:
        _rewrite(backfill, "last_join", lambda df: df.iloc[1:])
        assert backfill.check() == {"t0"}
    finally:
        backfill.outputs[:] = saved


def test_altered_request_is_caught(request_bench):
    from pyspark.sql import Row
    saved = list(request_bench.outputs)
    try:
        label, name, (row, got) = request_bench.outputs[1]
        d = got[0].asDict()
        d["cnt_30m"] += 1
        request_bench.outputs[1] = (label, name, (row, [Row(**d)]))
        assert request_bench.check() == {label}
    finally:
        request_bench.outputs[:] = saved


def test_fails_without_engine():
    """Beside only the benchmark's files, the command exits non-zero
    without printing a result."""
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".cache",
                                                  "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "request",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


def test_benchmark_json_matches_catalogue(harness):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(harness.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        harness.PER_LAYER
