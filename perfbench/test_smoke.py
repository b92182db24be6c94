"""Smoke tests of the benchmark at sf0.001.

Run from the root of a checkout:

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each workload must finish with every op correct and print exactly the
metric names and units ``BENCHMARK.json`` declares, untraced and
traced; the traced run must see every entry point predicted to fire.
The generated tables must also oracle-match every query ``bench.py``
times.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) | json.loads(lines[-2])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_declared_metrics(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics", "detail"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    assert out["detail"]["failed_op_share"] == 0
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if trace:
        assert out["detail"]["missing_entry_points"] == []
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_generated_tables_match_oracle_for_bench_queries(tmp_path):
    sys.path[:0] = [HERE, ROOT]
    import bench
    import datagen
    from oracle import check_queries
    from pystore_spark.queries import QUERIES
    from pystore_spark.session import get_spark

    sf_dir = datagen.write_tables(7, 0.001, str(tmp_path))
    spark = get_spark(app_name="perfbench_oracle")
    got = {q: QUERIES[q].spark_fn(spark, sf_dir).toPandas()
           for q in bench.BENCH_QUERIES}
    assert check_queries(sf_dir, got) == []
