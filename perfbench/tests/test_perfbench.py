"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import procfs  # noqa: E402
import workloads as wl  # noqa: E402
from fingerprint import fingerprint, matches  # noqa: E402
from stats import TooFewSamples, percentile  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(TooFewSamples):
        percentile([float(i) for i in range(99)], 90)
    assert percentile([float(i) for i in range(100)], 90) == pytest.approx(89.1)
    with pytest.raises(TooFewSamples):
        percentile([float(i) for i in range(39)], 75)
    percentile([float(i) for i in range(40)], 75)
    # the median of a handful of samples is allowed
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def _kinds(steps):
    return Counter(op[0] for p in steps for op in p)


def test_seed_changes_order_and_key_ranges_never_counts():
    names = wl.REGISTRY_OPS["stocks_scan"]
    plans = {s: wl.registry_plan(names, random.Random(s), 5) for s in range(1, 6)}
    assert len({tuple(map(tuple, p)) for p in plans.values()}) == 5
    for p in plans.values():
        assert Counter(n for pas in p for n in pas) == Counter({n: 5 for n in names})

    keys = list(range(1, 600_000, 4))  # sparse unique keys, like o_orderkey
    txlog = {}
    for s in range(1, 6):
        rng = random.Random(s)
        txlog[s] = wl.txlog_plan(wl.key_blocks(keys, rng), rng, 3)
    counts = {s: _kinds(p["passes"]) for s, p in txlog.items()}
    assert len({tuple(sorted(c.items())) for c in counts.values()}) == 1
    assert counts[1] == Counter(append=12, snapshot_pruned=36, merge_upsert=3, checkpoint_log=2)
    probes = {s: [op[1] for pas in p["passes"] for op in pas if op[0] == "snapshot_pruned"] for s, p in txlog.items()}
    assert len({tuple(v) for v in probes.values()}) == 5
    for p in txlog.values():
        # every probe reads a range inside the live key space
        for lo, hi in (op[1] for pas in p["passes"] for op in pas if op[0] == "snapshot_pruned"):
            assert any(b_lo <= lo <= hi <= b_hi for b_lo, b_hi in p["live"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    s = wl.spark_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    run.stop_spark(s)
    assert [p.pid for p in procfs.descendants(os.getpid())] == [os.getpid()]


def test_altered_result_fails_fingerprint(spark):
    from pyspark.sql import functions as F

    df = spark.range(1000).select("id", (F.col("id") * 1.5).alias("x"), F.col("id").cast("string").alias("s"))
    want = fingerprint(df)
    assert matches(fingerprint(df.orderBy(F.col("id").desc()).repartition(3)), want)
    altered = df.withColumn("x", F.when(F.col("id") == 7, F.col("x") + 1e-9).otherwise(F.col("x")))
    assert not matches(fingerprint(altered), want)
    assert not matches(fingerprint(df.filter("id <> 500")), want)
    assert not matches(fingerprint(df.withColumnRenamed("s", "t")), want)

    h = wl.Harness(spark, None, seed=1)
    h.check("altered", lambda: fingerprint(altered), want)
    h.check("raises", lambda: 1 / 0, want)
    h.check("same", lambda: fingerprint(df), want)
    assert [c["ok"] for c in h.checks] == [False, False, True]


def test_process_tree_reader_sees_jvm_and_python_workers(spark):
    from pyspark.sql import functions as F

    @F.udf("long")
    def busy(n):
        return sum(i * i for i in range(60_000 + n))

    before = procfs.tree_cpu(os.getpid())
    spark.range(0, 400, 1, 4).select(busy("id").alias("v")).agg(F.sum("v")).collect()
    used = procfs.tree_cpu(os.getpid()).minus(before)
    comms = {p.comm for p in procfs.descendants(os.getpid()) if p.pid != os.getpid()}
    assert "java" in comms
    assert any(c.startswith("python") for c in comms)
    assert used["jvm"] > 0
    assert used["py_worker"] > 0.5  # 400 UDF calls of ~60k multiplications each
    rss = procfs.tree_rss_mb(os.getpid())
    assert rss["jvm"] > 100 and rss["py_worker"] > 10 and rss["driver_py"] > 10


def test_steal_frac_reads_proc_stat():
    a = procfs.cpu_times()
    b = procfs.cpu_times()
    assert 0 <= a[0] <= a[1] and 0.0 <= procfs.steal_frac(a, b) <= 1.0
