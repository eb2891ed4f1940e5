"""Traversal operator edge cases: empty seeds, unknown nodes, depth
bounds, direction symmetry, late-data watermark behavior."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from binaryx_graph_spark.operators.traverse import (
    enumerate_paths,
    indirect_recursion,
    reachable,
)


def _graph(spark):
    calls = spark.createDataFrame(
        [("a", "b", "0x1", "Direct"), ("b", "c", "0x2", "Direct"), ("c", "a", "0x3", "Direct")],
        "src_uid string, dst_uid string, offset string, call_type string",
    )
    fns = spark.createDataFrame(
        [("a", "a", "", -1, "Internal"), ("b", "b", "", -1, "Internal"), ("c", "c", "", -1, "Internal")],
        "uid string, name string, address string, size long, type string",
    )
    return calls, fns


def test_reachable_empty_seeds(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([], "uid string")
    assert reachable(calls, seeds, max_depth=3).count() == 0


def test_reachable_unknown_seed(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([("zzz",)], "uid string")
    assert reachable(calls, seeds, max_depth=3).count() == 0


def test_reachable_cycle_reports_seed(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([("a",)], "uid string")
    out = {r["uid"]: r["depth"] for r in reachable(calls, seeds, max_depth=5).collect()}
    # a→b→c→a: seed re-reached at its cycle length
    assert out == {"b": 1, "c": 2, "a": 3}


def test_paths_depth_bound_respected(spark):
    calls, fns = _graph(spark)
    seeds = spark.createDataFrame([("a",)], "uid string")
    paths = enumerate_paths(calls, fns, seeds, max_depth=2).collect()
    assert {r["path_length"] for r in paths} == {1, 2}
    # relationship-uniqueness: the 3-cycle cannot repeat within depth 3
    p3 = enumerate_paths(calls, fns, seeds, max_depth=4).collect()
    longest = max(r["path_length"] for r in p3)
    assert longest == 3  # a→b→c→a exhausts the edges; no 4th hop possible


def test_indirect_recursion_direction(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([("a",), ("b",), ("c",)], "uid string")
    out = {r["uid"]: r["cycle_length"] for r in indirect_recursion(calls, seeds, max_depth=10).collect()}
    assert out == {"a": 3, "b": 3, "c": 3}


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked APPEND-mode windowed count: rows arriving behind the
    watermark are dropped — real late-data semantics, two micro-batches."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("k", T.StringType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    import datetime as dt

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        # move the data file into the watched dir as one new file
        import glob
        import shutil

        for f in glob.glob(str(tmp_path / "stage" / name / "part-*.parquet")):
            shutil.copy(f, str(src / f"{name}.parquet"))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = "late_test_sink"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # batch 1: window [00:00, 00:05) + an event far ahead at 01:00
        write_batch("b1", [(t0, "x"), (t0 + dt.timedelta(hours=1), "x")])
        q.processAllAvailable()
        # batch 2: a LATE row for [00:00, 00:05) — watermark has advanced
        # to 00:50, far past that window → must be dropped
        write_batch("b2", [(t0 + dt.timedelta(minutes=1), "x")])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.table(sink).collect()
    closed = {(r["window"]["start"].isoformat(), r["n"]) for r in rows}
    # the 00:00 window closed with ONE row: the late arrival was dropped
    assert ("2024-01-01T00:00:00", 1) in closed


def _chain(spark, n: int = 8):
    """v0 → v1 → … → vn: from v0 every BFS level up to n is non-empty."""
    calls = spark.createDataFrame(
        [(f"v{i}", f"v{i + 1}", f"0x{i:x}", "Direct") for i in range(n)],
        "src_uid string, dst_uid string, offset string, call_type string",
    )
    fns = spark.createDataFrame(
        [(f"v{i}", f"f{i}", f"0x{i:x}", 1, "Internal") for i in range(n + 1)],
        "uid string, name string, address string, size long, type string",
    )
    return calls, fns


def test_frontier_loops_job_budget(spark, job_ids, aqe_off):
    """Structural budget: each non-final level costs ONE job, the counted
    checkpoint (plans/lineage.py), not a checkpoint plus an emptiness
    probe, and the final level costs none.  With AQE off every action
    is one job, so each budget is the operator's checkpoints plus the
    final collect()."""
    calls, fns = _chain(spark)
    seeds = spark.createDataFrame([("v0",)], "uid string")
    # a 2-cycle hanging off the chain end keeps every recursion level busy
    rec_calls = calls.unionByName(
        spark.createDataFrame([("v8", "v7", "0x99", "Direct")], calls.schema)
    )
    rec_seeds = spark.createDataFrame([("v7",), ("v8",)], "uid string")

    def jobs_and_rows(df_fn):
        before = len(job_ids())
        rows = df_fn().collect()
        return len(job_ids()) - before, rows

    # edges + seeds + levels 1-3 + collect
    n, rows = jobs_and_rows(lambda: reachable(calls, seeds, max_depth=4))
    assert sorted((r["uid"], r["depth"]) for r in rows) == [
        ("v1", 1), ("v2", 2), ("v3", 3), ("v4", 4)
    ]
    assert n == 6

    # edges + seed paths + levels 1-3 + collect
    n, rows = jobs_and_rows(
        lambda: enumerate_paths(calls, fns, seeds, max_depth=4)
    )
    assert sorted(
        (r["end_uid"], r["path_length"], tuple(r["node_names"])) for r in rows
    ) == [(f"v{k}", k, tuple(f"f{i}" for i in range(k + 1))) for k in range(1, 5)]
    assert n == 6

    # edges + seed pairs + levels 1-3 + collect
    n, rows = jobs_and_rows(
        lambda: indirect_recursion(rec_calls, rec_seeds, max_depth=4)
    )
    assert sorted((r["uid"], r["cycle_length"]) for r in rows) == [
        ("v7", 2), ("v8", 2)
    ]
    assert n == 6
