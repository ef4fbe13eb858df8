"""Fast tests of the lake benchmark itself, at sf0.001 with a short
stream drop interval. Each Spark-backed test is one benchmark run in a
subprocess (about a minute here).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.report import CONTRACT_E2E, CONTRACT_LAYERS, LAYER_UNITS, UNITS  # noqa: E402
from perfbench.run import tail  # noqa: E402

FAST = ["--seed", "7", "--seconds", "1", "--sf", "0.001", "--drop-interval", "0.1"]


def _run(script: str) -> tuple[int, dict, dict]:
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    lines = p.stdout.strip().splitlines()
    assert len(lines) >= 2, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def _bench(*args: str) -> tuple[int, dict, dict]:
    argv = list(args) + FAST
    return _run(f"import sys; sys.path.insert(0, {ROOT!r}); from perfbench import run; sys.exit(run.main({argv!r}))")


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail([float(i) for i in range(1, 11)]) == (10.0, 100)
    value, pct = tail([float(i) for i in range(1, 101)])
    assert (value, pct) == (90.0, 90)
    assert sum(1 for i in range(1, 101) if i > value) == 10


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (k, UNITS[k]) for k in CONTRACT_E2E
    ]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (k, LAYER_UNITS[k]) for k in CONTRACT_LAYERS
    ]


def test_every_metric_printed_with_its_unit():
    code, full, line = _bench("--workload", "lake_sql", "--trace", "0")
    assert code == 0 and line["correct"] and line["failed"] == 0
    assert line["attempted"] >= 1
    assert set(line["metrics"]) == set(CONTRACT_E2E)
    for name, m in line["metrics"].items():
        assert m["unit"] == UNITS[name] and m["value"] > 0, name
    for name, m in full["metrics"].items():
        assert m["unit"] == UNITS[name], name


def test_traced_lake_sql_bypasses_scratch_and_udfs():
    code, full, line = _bench("--workload", "lake_sql", "--trace", "1")
    assert code == 0 and line["correct"]
    assert set(line["metrics"]) == set(CONTRACT_LAYERS)
    assert set(full["per_layer"]) == set(LAYER_UNITS)
    # The traced run adds the write path, so its report line carries
    # every end-to-end metric, the workload-specific ones included.
    assert set(full["metrics"]) == set(UNITS)
    for name, m in full["metrics"].items():
        assert m["unit"] == UNITS[name], name
    for name, m in line["metrics"].items():
        assert m["unit"] == LAYER_UNITS[name], name
    m = {k: v["value"] for k, v in line["metrics"].items()}
    assert m["scratch.builds"] == 0 and m["scratch.hits"] == 0
    assert m["udf.calls"] == 0
    assert m["crawler.jobs"] > 0 and m["etl.files_written"] > 0 and m["streaming.batches"] > 0
    assert full["per_layer"]["kv.lookup_s"]["value"] > 0


def test_wrong_result_trips_the_gate():
    op = "q6_forecast_revenue"
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from cdk_serverless_data_lake_sandbox_spark import registry
registry.all_queries()
good = registry._QUERIES[{op!r}]
registry._QUERIES[{op!r}] = lambda spark, sf_dir: good(spark, sf_dir).limit(0)
from perfbench import run
sys.exit(run.main({["--workload", "lake_sql", "--trace", "0"] + FAST!r}))
"""
    code, full, line = _run(script)
    assert code != 0
    assert line["correct"] is False and line["failed"] == 1
    assert any(f.startswith(f"{op}: wrong result") for f in full["failures"])
