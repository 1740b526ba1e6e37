"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute per workload on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402
from perfbench.bench import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    b = _benchmark_json()
    assert [m["name"] for m in b["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in b["per_layer"]] == list(PER_LAYER)
    for m in b["end_to_end"] + b["per_layer"]:
        table = END_TO_END if m["name"] in END_TO_END else PER_LAYER
        assert (m["unit"], m["better"]) == table[m["name"]]
    assert sorted(w["name"] for w in b["workloads"]) == sorted(WORKLOADS)
    assert set(WORKLOADS) == set(gen.WORKLOADS) == set(gen.TINY)


def test_percentiles_need_ten_samples_beyond():
    assert stats.summarize([1.0] * 19) == {"n": 19, "median": 1.0}
    s = stats.summarize(list(range(100)))
    assert "p90" in s and "p99" not in s
    assert "p90" not in stats.summarize(list(range(99)))
    assert "p99" in stats.summarize(list(range(1000)))
    for n in (10, 99, 100, 1000, 1500):
        for p in stats.TAIL_PERCENTILES:
            if stats.supported(p, n):
                xs = list(range(n))
                beyond = sum(x > stats.percentile(xs, p) for x in xs)
                assert beyond >= stats.MIN_BEYOND


def test_time_uuid_round_trips_its_ticks():
    ticks = gen.BASE_TICKS + 123_456_789
    u = gen.time_uuid(ticks)
    assert int(u[15:18] + u[9:13] + u[0:8], 16) == ticks


@pytest.fixture(scope="module")
def spark():
    from emodb_spark.spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    return get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)


def test_same_seed_same_inputs(spark):
    for name in WORKLOADS:
        p = gen.TINY[name]
        a = gen.input_hash(spark, name, p, 7)
        assert a == gen.input_hash(spark, name, p, 7)
        assert a != gen.input_hash(spark, name, p, 8)


def test_generated_change_ids_sort_in_spark_as_in_python(spark):
    from pyspark.sql import functions as F

    from emodb_spark.spark.resolve_ops import change_id_ticks

    rows = (gen.log_frame(spark, gen.TINY["sor_mixed"], 3)
            .select("change_id", change_id_ticks(F.col("change_id")).alias("t"))
            .limit(50).collect())
    for r in rows:
        cid = r["change_id"]
        assert int(cid[15:18] + cid[9:13] + cid[0:8], 16) == r["t"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_passes_its_output_checks(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = PER_LAYER if trace else END_TO_END
    assert list(res["metrics"]) == list(names)
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
