"""Warehouse reads infer each immutable manifest file set's schema once.

A repeat ``read`` of an unchanged table version reuses the schema the
first read inferred from the parquet footers, so it starts no Spark job.
Each table shape the manifest protocol produces — flat, bucketed,
deletion-vector-bearing and schema-evolved — must read back the same
schema (never the internal ``_kb`` column) and rows as the first read
and as a fresh, uncached ``Warehouse``; a new commit, or ``clear()`` plus
re-import, must read the new files' schema and rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from binaryx_graph_spark.sources.warehouse import Warehouse


def _fns(spark, keys, size=None, extra=None):
    """functions rows keyed ``str(k)``; ``size`` defaults to ``k``."""
    df = spark.createDataFrame(
        [
            (str(k), f"fn_{k}", "", k if size is None else size, "Internal")
            for k in keys
        ],
        "uid string, name string, address string, size long, type string",
    )
    return df if extra is None else df.withColumn(extra, F.lit("x"))


def _state(df):
    return df.schema, sorted(tuple(r) for r in df.collect())


def _sizes(df) -> dict[str, int]:
    return {r.uid: r.size for r in df.select("uid", "size").collect()}


def _repeat_read(wh: Warehouse, table: str, job_ids):
    """Read ``table`` twice: the repeat read is built with 0 jobs and
    equals both the first read and an uncached reader's."""
    first = wh.read(table)
    n = len(job_ids())
    again = wh.read(table)
    assert len(job_ids()) == n, "a repeat read started a Spark job"
    assert "_kb" not in again.columns
    assert _state(again) == _state(first)
    assert _state(again) == _state(Warehouse(wh.spark, str(wh.root)).read(table))
    return again


def test_flat_table(spark, tmp_path, job_ids):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge_batch({"functions": _fns(spark, range(50))})
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): k for k in range(50)}
    # a new commit lists new files: the read shows its rows
    wh.merge_batch({"functions": _fns(spark, range(40, 60), size=7)}, batch_seq=2)
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): (7 if k >= 40 else k) for k in range(60)}
    wh.clear()
    wh.merge_batch({"functions": _fns(spark, range(3), size=1)})
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {"0": 1, "1": 1, "2": 1}


def test_bucketed_table(spark, tmp_path, job_ids):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge_batch_incremental({"functions": _fns(spark, range(80))}, n_buckets=4)
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): k for k in range(80)}
    # internal reads keep the path-inferred _kb partition column, typed
    # exactly as an uncached reader infers it
    v = wh.versions("functions")[-1]
    internal = wh._read_manifest("functions", v)
    fresh = Warehouse(spark, str(wh.root))._read_manifest("functions", v)
    assert internal.schema == fresh.schema
    assert internal.schema["_kb"].dataType.simpleString() == "int"
    assert _state(internal) == _state(fresh)
    wh.merge_batch_incremental(
        {"functions": _fns(spark, range(70, 90), size=7)}, batch_seq=2
    )
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): (7 if k >= 70 else k) for k in range(90)}
    wh.clear()
    wh.merge_batch_incremental({"functions": _fns(spark, range(5), size=2)}, n_buckets=4)
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): 2 for k in range(5)}


def test_dv_bearing_table(spark, tmp_path, job_ids):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge_batch({"functions": _fns(spark, range(50))})
    wh.read("functions").collect()  # the pre-delete file set is known
    assert wh.delete_where_dv("functions", [("size", "<", 10)])["rows_deleted"] == 10
    assert wh._manifest("functions", wh.versions("functions")[-1]).get("dvs")
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): k for k in range(10, 50)}
    # a stacked delete is a new commit: its tombstones apply
    wh.delete_where_dv("functions", [("size", ">=", 45)])
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): k for k in range(10, 45)}
    wh.clear()
    wh.merge_batch({"functions": _fns(spark, range(4))})
    df = _repeat_read(wh, "functions", job_ids)
    assert _sizes(df) == {str(k): k for k in range(4)}


def test_schema_evolved_table(spark, tmp_path, job_ids):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge_batch({"functions": _fns(spark, range(20))})
    assert "note" not in _repeat_read(wh, "functions", job_ids).columns
    # evolution pins the widened schema; the read must show it, not the
    # schema remembered for the previous version's files
    wh.merge_batch(
        {"functions": _fns(spark, range(15, 25), extra="note")},
        batch_seq=2,
        allow_new_columns=True,
    )
    df = _repeat_read(wh, "functions", job_ids)
    assert df.columns[-1] == "note"
    notes = {r.uid: r.note for r in df.collect()}
    assert notes == {str(k): ("x" if k >= 15 else None) for k in range(25)}
    wh.clear()
    wh.merge_batch({"functions": _fns(spark, range(3))})
    df = _repeat_read(wh, "functions", job_ids)
    assert "note" not in df.columns and _sizes(df) == {"0": 0, "1": 1, "2": 2}


def test_repeat_reads_are_fresh_relations(spark, tmp_path):
    """Only schemas are remembered: two reads of one version are distinct
    relations, so a self-join of the table resolves (Engine.paths_from
    joins two reads of ``functions``)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge_batch({"functions": _fns(spark, range(6))})
    a, b = wh.read("functions"), wh.read("functions")
    assert a is not b
    pairs = a.alias("a").join(b.alias("b"), F.col("a.size") + 1 == F.col("b.size"))
    assert pairs.count() == 5
