"""Checks of the benchmark's traced path and of its oracle check.

    python3 -m pytest perfbench/test_perfbench.py -q

One Spark session; one op per workload plus a second, non-cluster llm op. Every
per-layer metric of BENCHMARK.json must come out with its unit, and
connected-components jobs must show up only for the cluster op.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from oracle import Oracle  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import DEV_SEED, WORKLOADS  # noqa: E402

CASES = [
    ("tpcdi_warehouse", "tpcdi_dim_security"),
    ("llm_dedup", "dedup_cluster_cc"),
    ("llm_dedup", "dedup_simhash"),
]
CLUSTER_OPS = {"dedup_cluster_cc", "dedup_semantic_cluster"}


@pytest.fixture(scope="module")
def bench():
    cores = run.pin_environment()
    spark, queries, oracles, setup_times = run.setup()
    run.keep_scratch_in_work()
    tracer = Tracer(spark)
    tracer.instrument()
    from inputs import generated_input

    input_dir = generated_input(run.WORK, DEV_SEED)
    yield spark, queries, oracles, setup_times, tracer, input_dir, cores
    run.stop(spark)


@pytest.fixture(scope="module")
def per_layer_units():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


@pytest.mark.parametrize("workload,op", CASES)
def test_traced_layers(bench, per_layer_units, workload, op):
    spark, queries, oracles, setup_times, tracer, input_dir, cores = bench
    assert op in WORKLOADS[workload]
    runner = run.Runner(spark, queries, oracles, (op,), input_dir, tracer)
    first_ops, warm = runner.measure(seconds=0)
    assert runner.failed == 0
    metrics = run.layer_metrics(tracer, warm, [setup_times], cores)
    assert {k: v["unit"] for k, v in metrics.items()} == per_layer_units
    jobs = metrics["llm.components.jobs"]["value"]
    assert (jobs > 0) == (op in CLUSTER_OPS)
    assert metrics["exec.s"]["value"] > 0
    assert metrics["exec.stages"]["value"] > 0


def test_oracle_check_flags_a_wrong_result(bench):
    spark, queries, oracles, *_, input_dir, _ = bench
    sql = oracles["agg_groupby_basic"]
    df = queries["agg_groupby_basic"](spark, input_dir)
    numeric = next(c for c, t in df.dtypes if t in ("bigint", "double") or t.startswith("decimal"))
    oracle = Oracle(input_dir)
    try:
        assert oracle.mismatch(df, sql) is None
        assert oracle.mismatch(df.limit(1), sql).startswith("row count")
        assert oracle.mismatch(df.withColumn(numeric, df[numeric] + 1), sql).startswith("values differ")
    finally:
        oracle.close()
