"""Lineage cuts for iterative DataFrame loops.

**The consumer-count rule** (r13, OPTIMIZATION_r13.md), which every
frontier loop follows: a lazy frame is re-executed once per consumer.
A NON-final level has two or more (the output union and the next
level's join, often a visited anti-join too), so it is materialized by
an eager ``localCheckpoint`` — left lazy it measured more jobs (25 → 31
in ``reachable``) and slower (r12's cadence-2: enumerate_paths 1.06×,
cypher_varlen_rel_pred 1.14×).  The FINAL level has one consumer and
the loop ends whatever its size, so it is not checkpointed
(AB_r13_frontier.json: cypher_paths_scaled 0.805× min / 0.755× median).

:func:`checkpoint_count` is that checkpoint plus the loop's emptiness
test in ONE job: an ``Observation`` of ``count(1)`` attached before the
eager checkpoint is filled by the checkpoint's own job (Spark 4.1;
pinned by tests/test_lineage.py), where ``isEmpty()`` started another.

**Statistics.**  ``localCheckpoint(eager=True)`` cuts the execution
lineage, but Spark's ``LogicalRDD`` deliberately CARRIES OVER the
origin plan's size statistics (``originStats``) so the optimizer keeps
making informed broadcast decisions after a checkpoint.  For a loop
whose per-round plan JOINS several frames that are themselves products
of the previous round, that carry-over compounds multiplicatively:
sizeInBytes is a BigInt product over join children (Catalyst's
``SizeInBytesOnlyStatsPlanVisitor``), so its BIT LENGTH grows ~k× per
round (k = joins per round).  Measured on the pivot FW-BW shape: 47 →
194 → 783 → 3135 → 12547 bits over five rounds — by round ~12 the
stats are hundred-megabit BigIntegers and PLANNING (not execution)
pins a core for minutes inside ``BigInteger.multiplyToomCook3``.

:func:`checkpoint_cut` therefore rebuilds the checkpointed result as a
fresh ``LogicalRDD`` WITHOUT origin stats (sizeInBytes resets to
``spark.sql.defaultSizeInBytes``): one ``toRdd()`` handle on the
already-materialized checkpoint — no recompute, no Python round-trip —
then ``internalCreateDataFrame`` over the same JVM rows.  The traded
cost is the optimizer seeing "unknown (huge) size" instead of the
compounded estimate, i.e. no auto-broadcast of loop frames — which the
compounded estimates (astronomically large) never allowed either, and
which AQE re-derives at runtime from ACTUAL shuffle sizes.  Linear
accumulator loops (plain BFS frontiers: one join per level, bits grow
additively) don't need this; use it where the per-round plan is a
PRODUCT of several previous-round frames (FW-BW partition refinement,
anything join-recursive; ``checkpoint_count(df, reset_stats=True)``
is the counted form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _reset_stats(cp: DataFrame) -> DataFrame:
    """Rebuild an eager checkpoint without its origin statistics (see
    module docstring).  Falls back to the plain checkpoint if the
    private JVM hook is unavailable (non-classic sessions, future Spark
    versions) — correctness never depends on the stats cut."""
    try:
        spark = cp.sparkSession
        jdf = cp._jdf
        jrdd = jdf.queryExecution().toRdd()  # checkpointed scan — no recompute
        njdf = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
        return DataFrame(njdf, spark)
    except Exception:
        return cp


def checkpoint_cut(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + statistics reset (see module docstring)."""
    return _reset_stats(df.localCheckpoint(eager=True))


def checkpoint_count(df: DataFrame, *, reset_stats: bool = False) -> tuple[DataFrame, int]:
    """Eager localCheckpoint of ``df`` and its row count, from one Spark
    job (see module docstring).  ``reset_stats=True`` also applies
    :func:`checkpoint_cut`'s statistics reset."""
    obs = Observation()
    cp = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    n = obs.get["n"]
    return (_reset_stats(cp) if reset_stats else cp), n
