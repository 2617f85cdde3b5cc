"""Sparse-vector retrieval (Qdrant sparse vectors — the public
``SparseVector(indices=[...], values=[...])`` surface backing
SPLADE/BM42-style learned-sparse search; the reference's engine
exposes the same point type alongside dense/multivector).

A sparse point is ``(id, indices array<bigint>, values array<double>)``
with strictly increasing indices. Scoring is the sparse dot product:
``Σ values[i]·q[j]`` over matching indices — exactly Qdrant's sparse
metric (dot, no normalization).

Plan shape: ``arrays_zip → explode`` turns each point into posting
rows (scan-local, no shuffle); the broadcast-joined query side (|q|
rows) prunes non-query terms *before* the groupBy shuffle, so the
aggregate's input is bounded by the postings that mention query terms
— the inverted-index access pattern, expressed relationally. The
groupBy keys on point id (uniform), then TakeOrderedAndProject.

At 100 TB: materialize the exploded posting frame once, partitioned
by ``idx`` bucket — per-query cost becomes a bucket-pruned scan of
|q| term buckets, never the full corpus; same layout story as BM25's
(term, doc, tf) frame (SCALE.md §Sparse). ``Collection`` implements
exactly this (``full_scan_threshold`` gates a ``postings`` row of its
layout table, ``Collection._layouts``); pass
the pruned layout scan back in via ``sparse_knn(postings=)``.

Vocabulary assignment (``term_vocabulary``) is prefix-blocked: ranks
are computed per first-k-chars block in parallel and shifted by
cumulative block offsets, so no vocabulary-sized frame ever passes
through one task. (SPLADE deployments can skip it entirely — the
tokenizer's fixed vocab ids need no global assignment.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..functions.localframe import local_literal_df

from ..functions.text import tokens
from .topk import global_topk

__all__ = ["term_vocabulary", "sparse_from_text", "sparse_postings",
           "sparse_knn"]


def term_vocabulary(docs: DataFrame, text_col: str = "text",
                    prefix_len: int = 2) -> DataFrame:
    """``(term, term_id)`` — dense ids assigned in lexicographic term
    order, so ids are deterministic across runs/engines.

    Scale shape: NO single-partition window. Terms are blocked by
    their first ``prefix_len`` characters (a deterministic range key —
    block order is consistent with term order, and no sampling is
    involved, unlike ``repartitionByRange``), ranked within each block
    in parallel, then shifted by the cumulative block offsets. The only
    unpartitioned window runs over the per-block count frame (bounded
    by the prefix alphabet, ~1e3-1e4 rows), and the offsets broadcast
    back. At 1e8 distinct terms the largest 2-char block is a few
    million rows through one window task — raise ``prefix_len`` to
    re-split; ids are unchanged (still the global lexicographic
    rank)."""
    terms = docs.select(
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term")
    ).distinct()
    local = terms.withColumn(
        "blk", F.substring("term", 1, prefix_len)
    ).withColumn(
        "rnk",
        F.row_number()
        .over(Window.partitionBy("blk").orderBy("term"))
        .cast("bigint"),
    )
    offsets = (
        local.groupBy("blk").agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("blk")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
    )
    return local.join(F.broadcast(offsets.select("blk", "off")), "blk").select(
        "term", (F.col("off") + F.col("rnk")).alias("term_id")
    )


def sparse_from_text(docs: DataFrame, vocab: DataFrame,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Encode each document as a sparse tf vector: ``indices`` =
    vocabulary ids of its terms (ascending), ``values`` = term counts.
    The tf weights are integers, which keeps downstream dot products
    order-exact (the learned-weight variant would broadcast a model's
    per-term weights instead)."""
    tf = (
        docs.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    enc = tf.join(vocab, on="term")
    pairs = enc.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("term_id", "tf"))).alias("ps")
    )
    return pairs.select(
        F.col(id_col),
        F.transform("ps", lambda p: p["term_id"]).alias("indices"),
        F.transform("ps", lambda p: p["tf"]).alias("values"),
    )


def sparse_postings(corpus: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode sparse points into posting rows ``(id, idx, val)`` —
    the frame to persist ``bucketBy(idx)`` for bucket-pruned probes."""
    return corpus.select(
        F.col(id_col),
        F.explode(F.arrays_zip("indices", "values")).alias("p"),
    ).select(
        F.col(id_col),
        F.col("p.indices").alias("idx"),
        F.col("p.values").alias("val"),
    )


def sparse_knn(corpus: DataFrame | None, query_indices: list,
               query_values: list,
               k: int = 10, id_col: str = "doc_id",
               round_digits: int | None = 6,
               modifier: str | None = None,
               n_points: int | None = None,
               stats_corpus: DataFrame | None = None,
               postings: DataFrame | None = None,
               candidates: DataFrame | None = None,
               df_stats: DataFrame | None = None) -> DataFrame:
    """Top-k by sparse dot product against one query. The broadcast
    query side prunes the exploded postings to query terms before any
    shuffle.

    ``modifier="idf"`` (Qdrant ``SparseVectorParams(modifier=
    Modifier.IDF)`` — the BM42 configuration): each query value is
    multiplied by the term's corpus IDF,
    ``ln((N − df + 0.5) / (df + 0.5) + 1)`` with ``df`` = points
    containing the term and ``N`` = point count (``n_points`` or a
    count job). df is computed from the already-query-pruned postings
    (|q| keys, exact integer counts). IDF weights make the per-doc
    contributions irrational doubles, so the doc score folds
    left-to-right in ascending index order
    (``aggregate(array_sort(collect_list(...)))``) instead of a
    native SUM — the unigram-perplexity float-parity discipline.

    ``stats_corpus`` splits the IDF statistics source from the scored
    corpus (Qdrant computes IDF collection-wide at index time, so a
    request filter must narrow the CANDIDATES without changing df/N —
    pass the unfiltered collection here and the filtered one as
    ``corpus``).

    ``postings`` replaces the in-plan array explode with a PREBUILT
    posting frame ``(id_col, idx, val)`` — the persisted inverted
    index (``Collection``'s bucket-partitioned postings layout): the
    ``idx`` equi-join then rides the layout's partition/row-group
    pruning instead of scanning every point's arrays. Pass
    ``candidates`` (a frame of ``id_col``) to restrict the scored
    points (the filtered-search path); IDF statistics still come from
    the full ``postings`` frame. Scoring is identical either way —
    results are bit-equal to the explode form."""
    spark = (corpus or postings).sparkSession
    qdf = local_literal_df(
        spark,
        [(int(i), float(v)) for i, v in zip(query_indices, query_values)],
        "idx bigint, qval double",
    )
    posting = (postings.select(id_col, "idx", "val")
               if postings is not None
               else sparse_postings(corpus, id_col=id_col))
    pruned = posting.join(F.broadcast(qdf), on="idx")
    stats_base = pruned
    if candidates is not None:
        pruned = pruned.join(candidates.select(id_col), on=id_col)
    if modifier == "idf":
        if (n_points is None and stats_corpus is None and corpus is None
                and df_stats is None):
            raise ValueError("idf over a postings frame needs n_points "
                             "(distinct ids are a posting-wide agg)")
        stats = corpus if stats_corpus is None else stats_corpus
        n = float(n_points if n_points is not None else stats.count())
        if df_stats is not None:
            # index-time statistics (the (idx, df) sidecar the posting
            # write maintains): exactly the counts the agg below would
            # produce, without re-aggregating the probed posting lists
            dfreq = df_stats.select("idx", "df")
        else:
            stats_pruned = stats_base if stats_corpus is None else (
                sparse_postings(stats, id_col=id_col)
                .join(F.broadcast(qdf), on="idx"))
            dfreq = stats_pruned.groupBy("idx").agg(
                F.count_distinct(F.col(id_col)).cast("double").alias("df"))
        idf = F.log((F.lit(n) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
        pruned = (pruned.join(F.broadcast(dfreq), on="idx")
                  .withColumn("qval", F.col("qval") * idf))
        score = F.aggregate(
            F.array_sort(F.collect_list(
                F.struct(F.col("idx"),
                         (F.col("val") * F.col("qval")).alias("c")))),
            F.lit(0.0), lambda acc, x: acc + x["c"])
    elif modifier is not None:
        raise ValueError(f"unknown sparse modifier {modifier!r}")
    else:
        # tf weights are integer-valued doubles: the sum is
        # order-exact, no fold discipline needed
        score = F.sum(F.col("val") * F.col("qval"))
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = pruned.groupBy(id_col).agg(score.alias("score"))
    return global_topk(scored, [("score", False), (id_col, True)], k)


def sparse_knn_batch(corpus: DataFrame | None, queries: list, k: int = 10,
                     id_col: str = "doc_id",
                     round_digits: int | None = 6,
                     modifier: str | None = None,
                     n_points: int | None = None,
                     stats_corpus: DataFrame | None = None,
                     postings: DataFrame | None = None,
                     df_stats: DataFrame | None = None) -> DataFrame:
    """Batched sparse top-k: ``queries`` is a list of
    ``(indices, values)`` pairs; ALL queries share ONE posting pass
    (the broadcast side is the union of every query's terms tagged
    ``query_idx``), grouped per (query, point) and ranked per query —
    the sparse twin of ``dense_knn_batch``'s single-scan plan. Scoring
    and the IDF modifier match :func:`sparse_knn` exactly (same fold
    discipline, df per term computed once across the batch).
    ``postings`` swaps in the persisted inverted-index frame exactly
    as in :func:`sparse_knn` (bit-equal results)."""
    from .topk import grouped_topk

    spark = (corpus or postings).sparkSession
    rows = [(qi, int(i), float(v))
            for qi, (idx, vals) in enumerate(queries)
            for i, v in zip(idx, vals)]
    qdf = local_literal_df(spark, rows,
                           "query_idx int, idx bigint, qval double")
    posting = (postings.select(id_col, "idx", "val")
               if postings is not None
               else sparse_postings(corpus, id_col=id_col))
    pruned = posting.join(F.broadcast(qdf), on="idx")
    if modifier == "idf":
        if (n_points is None and stats_corpus is None and corpus is None
                and df_stats is None):
            raise ValueError("idf over a postings frame needs n_points "
                             "(distinct ids are a posting-wide agg)")
        stats = corpus if stats_corpus is None else stats_corpus
        n = float(n_points if n_points is not None else stats.count())
        if df_stats is not None:
            dfreq = df_stats.select("idx", "df")  # index-time stats
        else:
            terms = qdf.select("idx").distinct()
            stats_posting = (posting if stats_corpus is None
                             else sparse_postings(stats, id_col=id_col))
            dfreq = (stats_posting
                     .join(F.broadcast(terms), on="idx")
                     .groupBy("idx").agg(
                         F.count_distinct(F.col(id_col)).cast("double")
                         .alias("df")))
        idf = F.log((F.lit(n) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
        pruned = (pruned.join(F.broadcast(dfreq), on="idx")
                  .withColumn("qval", F.col("qval") * idf))
        score = F.aggregate(
            F.array_sort(F.collect_list(
                F.struct(F.col("idx"),
                         (F.col("val") * F.col("qval")).alias("c")))),
            F.lit(0.0), lambda acc, x: acc + x["c"])
    elif modifier is not None:
        raise ValueError(f"unknown sparse modifier {modifier!r}")
    else:
        score = F.sum(F.col("val") * F.col("qval"))
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = pruned.groupBy("query_idx", id_col).agg(score.alias("score"))
    return grouped_topk(scored, ["query_idx"],
                        [("score", False), (id_col, True)], k)
