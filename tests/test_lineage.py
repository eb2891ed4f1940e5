"""plans/lineage.py: the counted checkpoint and the stats cut.

checkpoint_count reads a frame's row count from an Observation that the
eager checkpoint's own job fills; the contract tests below pin that it
equals ``count()`` (empty and zero-partition frames included) and costs
no job beyond the checkpoint, so a Spark upgrade that changes when
observed metrics arrive fails here rather than in a frontier loop.

checkpoint_cut: the stats-compounding regression.

localCheckpoint's LogicalRDD carries origin-plan size statistics; loops
whose next state joins several copies of the previous state compound
them multiplicatively until Catalyst's BigInteger size arithmetic
dominates planning (SCALE.md addendum 32).  These tests pin (a) the
helper actually resets stats, (b) values survive the rebuild untouched,
(c) the distributed CC loop — the worst measured offender (stats bits
DOUBLED per round) — now converges on a long-diameter graph that
previously planning-stalled.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from binaryx_graph_spark.plans.lineage import checkpoint_count, checkpoint_cut


def _bits(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().bit_length()


def test_checkpoint_cut_resets_stats_and_preserves_rows(spark):
    base = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    # stack a few row-preserving self-joins (unique key) so the origin
    # stats are visibly compounded without multiplying rows
    df = base
    for _ in range(3):
        df = df.join(df.withColumnRenamed("v", "v2"), "k").select("k", "v")
    assert _bits(df) > 64  # compounded origin stats
    cut = checkpoint_cut(df)
    assert _bits(cut) <= 64  # reset to defaultSizeInBytes
    assert sorted(map(tuple, cut.collect())) == sorted(map(tuple, df.collect()))


def _frames(spark):
    keys = spark.range(10).select(F.col("id").alias("k"))
    return {
        "non-empty": spark.range(37).select((F.col("id") % 5).alias("k")).distinct(),
        "createDataFrame([])": spark.createDataFrame([], "uid string"),
        "range(0)": spark.range(0),
        "limit(0)": spark.range(10).limit(0),
        "emptying anti-join": keys.join(keys, "k", "left_anti"),
    }


def test_checkpoint_count_matches_count_on_empty_and_zero_partition_frames(spark):
    for name, df in _frames(spark).items():
        cp, n = checkpoint_count(df)
        assert n == df.count(), name
        assert cp.count() == n, name
    cp, _ = checkpoint_count(_frames(spark)["non-empty"])
    assert [r.k for r in cp.orderBy("k").collect()] == [0, 1, 2, 3, 4]


def test_checkpoint_count_starts_no_job_beyond_the_checkpoint(spark, job_ids, aqe_off):
    def jobs(fn):
        before = len(job_ids())
        fn()
        return len(job_ids()) - before

    for name, df in _frames(spark).items():
        counted = jobs(lambda: checkpoint_count(df))
        plain = jobs(lambda: df.localCheckpoint(eager=True))
        assert counted <= plain, name


def test_checkpoint_count_reset_stats_matches_checkpoint_cut(spark):
    # the counted form of the cut keeps the stats-reset property of
    # test_checkpoint_cut_resets_stats_and_preserves_rows
    base = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    df = base
    for _ in range(3):
        df = df.join(df.withColumnRenamed("v", "v2"), "k").select("k", "v")
    assert _bits(df) > 64
    cut, n = checkpoint_count(df, reset_stats=True)
    assert n == 100
    assert _bits(cut) <= 64
    assert sorted(map(tuple, cut.collect())) == sorted(map(tuple, df.collect()))
    plain, n_plain = checkpoint_count(df)
    assert n_plain == 100 and _bits(plain) > 64  # no reset unless asked


def test_iterated_cut_stays_bounded(spark):
    # the fwbw/CC shape: state(t) = join of three views of state(t-1)
    state = checkpoint_cut(
        spark.range(20).select(F.col("id").alias("k"), F.col("id").alias("v"))
    )
    for _ in range(6):
        a = state.select(F.col("k"), F.col("v").alias("a"))
        b = state.select(F.col("k"), F.col("v").alias("b"))
        state = checkpoint_cut(
            state.join(a, "k").join(b, "k").select("k", F.least("v", "a", "b").alias("v"))
        )
        assert _bits(state) <= 64  # would be ~4x per round without the cut
    assert state.count() == 20


def test_cc_long_chain_distributed_converges(spark):
    # 256-node chain: diameter 255 forces many pointer-jumping rounds —
    # the regime where checkpoint-carried stats previously stalled
    # planning (non-terminating before the fix; seconds after)
    from binaryx_graph_spark.operators.dedup import connected_components

    pairs = spark.range(256).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out = connected_components(pairs, local_max_edges=0)
    rows = out.collect()
    assert len(rows) == 257
    assert {r["cluster_id"] for r in rows} == {0}  # one chain, min-id root
