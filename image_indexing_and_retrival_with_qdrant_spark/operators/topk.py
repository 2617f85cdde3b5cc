"""Top-k operators.

The reference's ``limit=top_k`` on ``query_points``
(``with_colpali_v1.3/qdrant_query_with_colpali.py:95,109-114``) maps to:

- global top-k: ``ORDER BY score DESC LIMIT k`` — Spark plans this as
  ``TakeOrderedAndProject`` (per-partition heap + driver merge, no full
  sort, no shuffle of the corpus). This is the single-query path and is
  scale-safe: O(k) rows per partition regardless of corpus size.
- per-group top-k (batched queries): exact window
  ``row_number() OVER (PARTITION BY group ORDER BY ...) <= k``. Spark
  plans the ``<= k`` filter as ``WindowGroupLimit``: a ``Partial``
  instance below the exchange keeps only the k best rows per group
  of each map partition (a per-partition heap, in the JVM), so at
  1000 executors × Q queries the window's shuffle moves ≤
  ``partitions·Q·k`` rows instead of ``N·Q``; the ``Final`` instance
  and the window after the exchange re-rank exactly. The partial
  limit is inferred only while k ≤
  ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000);
  above it the results are identical and only the shuffle is
  unpruned.

``topk`` is the one leaf rule of a search for Q ≥ 1: no lead columns
(a single search) → ``global_topk``; ``["query_idx"]`` (a batch) →
``grouped_topk``. A single search and a batch otherwise share their
whole scoring body.

Determinism: callers must supply a total order (tie-break keys), else
top-k content at rank boundaries is engine-dependent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["global_topk", "grouped_topk", "order_cols", "top_groups",
           "topk"]

OrderSpec = Sequence[tuple[str | Column, bool]]  # (column or name, ascending)


def order_cols(order: OrderSpec) -> list[Column]:
    """Sort columns for an order spec; a key is a column name or an
    expression (e.g. a seeded hash rank)."""
    cols = [(F.col(c) if isinstance(c, str) else c, asc) for c, asc in order]
    return [c if asc else c.desc() for c, asc in cols]


def global_topk(df: DataFrame, order: OrderSpec, k: int) -> DataFrame:
    """ORDER BY ... LIMIT k → TakeOrderedAndProject (no full sort)."""
    return df.orderBy(*order_cols(order)).limit(k)


def grouped_topk(
    df: DataFrame,
    group: Sequence[str],
    order: OrderSpec,
    k: int,
    rank_col: str | None = "rank",
) -> DataFrame:
    """Exact top-k per group (map-side pruned by Spark's partial
    ``WindowGroupLimit``, see module docstring)."""
    w = Window.partitionBy(*group).orderBy(*order_cols(order))
    ranked = df.withColumn("__rank", F.row_number().over(w)).filter(F.col("__rank") <= k)
    if rank_col:
        return ranked.withColumnRenamed("__rank", rank_col)
    return ranked.drop("__rank")


def topk(
    df: DataFrame,
    lead: Sequence[str],
    order: OrderSpec,
    k: int,
    rank_col: str | None = "rank",
) -> DataFrame:
    """The leaf of a search for Q ≥ 1: the heap for a single search
    (no ``lead``), exact per-query top-k over the ``lead`` key (the
    batch's ``query_idx``, ranked into ``rank_col``) otherwise."""
    if lead:
        return grouped_topk(df, lead, order, k, rank_col=rank_col)
    return global_topk(df, order, k)


def top_groups(
    df: DataFrame,
    group: str,
    order: OrderSpec,
    limit: int,
    group_size: int,
) -> DataFrame:
    """Qdrant ``query_points_groups`` shape: keep the best
    ``group_size`` rows per group, rank groups by their best row under
    the same order, return the top ``limit`` groups' hits with a
    ``group_rank`` column.

    Two stages: (1) per-group top-``group_size`` (window shuffle on the
    group key — the partial ``WindowGroupLimit`` caps each map
    partition at ``group_size`` rows per group, so a skewed payload
    key ships ≤ ``partitions·group_size`` rows); (2) group ranking
    over the rank-1 representatives. Only the best ``limit`` reps can
    rank, so a ``TakeOrderedAndProject`` (per-partition heap, no
    shuffle) prunes the rep frame to ``limit`` rows FIRST — the
    unpartitioned row_number window then sees a bounded input even at
    millions of groups. The ≤``limit``-row
    verdict broadcasts back onto the kept hits."""
    hits = grouped_topk(df, [group], order, group_size, rank_col="rank")
    reps = hits.filter(F.col("rank") == 1)
    pruned = reps.orderBy(*order_cols(order)).limit(limit)
    w = Window.orderBy(*order_cols(order))
    granked = (
        pruned.withColumn("group_rank", F.row_number().over(w))
        .select(group, "group_rank")
    )
    return hits.join(F.broadcast(granked), on=group)
