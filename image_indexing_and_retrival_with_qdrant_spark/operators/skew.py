"""Skew-mitigation operators (SURVEY.md 'Optimize for scale').

Hot grouping keys (a handful of event types over billions of events;
one viral document id) make a single reducer the job's critical path.
``salted_agg`` implements the classic two-stage fix as a reusable
operator: stage 1 aggregates on (key, salt) — spreading each hot key
over ``n_salts`` reducers — stage 2 merges the partials on the key
alone (now ≤ n_salts rows per key). Results are exactly equal to the
direct aggregation for any algebraic aggregate; the oracle-backed
query in queries/advanced2.py proves it on real data.

AQE's skew-join handling covers *joins*; this covers *aggregations*,
where AQE cannot split a hot group.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_agg", "pin_group_parallelism"]


def pin_group_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` by ``keys`` with an EXPLICIT partition count
    (the cluster's ``defaultParallelism``) so a following
    ``groupBy(keys)`` pass keeps its parallelism.

    Why: AQE's advisory-size coalescing shrinks any exchange whose
    shuffle BYTES are small — but ``applyInPandas``/pair-join passes
    whose per-group WORK is heavy (a Python graph build per segment, a
    quadratic pair join per cell) then run every group serially in one
    task (measured: the sf0.1 per-cell HNSW build collapsed to one
    5.5 s single-task job; 16 cells spread rebuild in ~0.9 s). An
    explicit numPartitions is exempt from AQE coalescing, and the
    downstream group/join reuses the exchange (same key, no extra
    shuffle). The count derives from the cluster, not a constant, so
    the same plan scales from local[2] to a real cluster.

    Only for passes whose per-group work far exceeds their bytes
    (graph builds, the union-find cogroup, the DSIR fold). Every
    Python task costs a fixed ~0.2-0.27 s of worker CPU, so a pass
    whose work follows its bytes — an HNSW search walk — is better
    left to AQE's byte sizing (SCALE.md)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)

# (partial aggregate, merge aggregate) pairs per supported op
_MERGES = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation.

    ``aggs``: output column → (op, input column), op ∈ sum/count/min/max
    (algebraic ops with a trivial merge; avg = sum/count composed by
    the caller so the merge stays exact).
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=0) * n_salts).cast("int")
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            _MERGES[op][0](col).alias(f"__p_{out}")
            for out, (op, col) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _MERGES[op][1](f"__p_{out}").alias(out)
            for out, (op, _) in aggs.items()
        ]
    )
