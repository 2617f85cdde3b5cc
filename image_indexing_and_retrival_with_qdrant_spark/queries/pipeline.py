"""Training-data pipeline queries: corpus quality filters, chunking,
PII scrubbing, and reduced-dimension retrieval.

These are the operations a 100 TB pretraining-data pipeline runs
between raw ingest and the embedding/indexing stages the reference
covers (SURVEY.md §7 M6 extends here): Gopher/C4-style heuristic
filters, n-gram repetition detection, sliding-window chunking for
context-bounded embedders, and email/URL redaction. Every operator is
a pure Catalyst expression over one scan — no Python, no shuffle
except final tiny aggregations — so each scales linearly with the
corpus and whole-stage-codegens.

Reduced-dimension retrieval (Matryoshka truncation, seeded random
projection) mirrors how large corpora cut ANN cost: score in a cheap
subspace, keep the full vector only for reranking. Both are expressed
as the same broadcast-query cosine top-k as the dense path, so the
plan shape (broadcast + TakeOrderedAndProject) is identical to
operators/knn.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.vector import as_double, dot
from ..registry import register
from ..tables import load

# ---------------------------------------------------------------------------
# Repetition detection (Gopher §A.1.2: excess duplicate n-grams)
# ---------------------------------------------------------------------------

_BIGRAM_SQL = r"""
  SELECT doc_id, regexp_extract_all(text, '\w+') AS toks,
         len(regexp_extract_all(text, '\w+')) AS n
  FROM documents
"""


@register(
    "docs_repetition_stats",
    f"""
    WITH t AS ({_BIGRAM_SQL}),
    b AS (
      SELECT doc_id,
             CASE WHEN n >= 2
                  THEN list_transform(range(1, n), i -> toks[i] || ' ' || toks[i+1])
                  ELSE [] END AS bg
      FROM t
    )
    SELECT doc_id,
           CAST(len(bg) AS BIGINT) AS n_bigrams,
           ROUND(1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 6)
             AS dup_bigram_frac,
           ROUND(list_max(list_transform(list_distinct(bg),
                 x -> len(list_filter(bg, y -> y = x))))
                 / CAST(len(bg) AS DOUBLE), 6) AS top_bigram_frac,
           (1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE)) <= 0.2
             AS keep
    FROM b
    """,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-bigram repetition: duplicate-bigram fraction
    and most-frequent-bigram share (the Gopher repetition signals), and
    a keep flag at the standard 0.2 duplicate threshold.

    The top-bigram share is an O(distinct × total) per-row expression —
    bounded by document length, scan-local, no shuffle; at 100 TB this
    is exactly as parallel as the scan itself."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    bg = F.when(
        F.col("n") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 1),
            lambda i: F.concat(F.element_at("toks", i), F.lit(" "),
                               F.element_at("toks", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    b = t.select("doc_id", bg.alias("bg"))
    dup_frac = 1.0 - F.size(F.array_distinct("bg")) / F.size("bg").cast("double")
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct("bg"),
                lambda x: F.size(F.filter("bg", lambda y: y == x)),
            )
        )
        / F.size("bg").cast("double")
    )
    return b.select(
        "doc_id",
        F.size("bg").cast("long").alias("n_bigrams"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        (dup_frac <= 0.2).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Gopher-style heuristic quality rules
# ---------------------------------------------------------------------------

@register(
    "docs_gopher_filter",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\w+') AS toks,
             len(regexp_extract_all(text, '\w+')) AS n,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_sym
      FROM documents
    ),
    m AS (
      SELECT doc_id, n, n_sym,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / n AS mean_len,
             len(list_filter(toks, x -> lower(x) IN
                 ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_words,
           ROUND(mean_len, 6) AS mean_word_len,
           ROUND(n_sym / CAST(n AS DOUBLE), 6) AS symbol_word_ratio,
           n BETWEEN 20 AND 80 AS word_count_ok,
           mean_len BETWEEN 3.0 AND 10.0 AS mean_len_ok,
           n_stop >= 2 AS stopword_ok,
           (n BETWEEN 20 AND 80) AND (mean_len BETWEEN 3.0 AND 10.0)
             AND n_stop >= 2 AS keep
    FROM m
    """,
)
def docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule battery per document: word-count bounds, mean word
    length bounds, symbol-to-word ratio, minimum stopword evidence —
    each rule surfaced as its own flag plus the conjunction, so a
    pipeline can tune one rule without re-deriving the rest."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("n"),
        F.length(
            F.regexp_replace(F.col("text"), r"[a-zA-Z0-9\s]", "")
        ).alias("n_sym"),
    )
    mean_len = (
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("double")),
            F.lit(0.0), lambda a, x: a + x,
        )
        / F.col("n")
    )
    n_stop = F.size(
        F.filter("toks", lambda x: F.lower(x).isin(
            "the", "a", "of", "and", "to", "in"))
    )
    m = t.select("doc_id", "n", "n_sym", mean_len.alias("mean_len"),
                 n_stop.alias("n_stop"))
    word_ok = F.col("n").between(20, 80)
    len_ok = F.col("mean_len").between(3.0, 10.0)
    stop_ok = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        F.col("n").cast("long").alias("n_words"),
        F.round("mean_len", 6).alias("mean_word_len"),
        F.round(F.col("n_sym") / F.col("n").cast("double"), 6)
          .alias("symbol_word_ratio"),
        word_ok.alias("word_count_ok"),
        len_ok.alias("mean_len_ok"),
        stop_ok.alias("stopword_ok"),
        (word_ok & len_ok & stop_ok).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking (context-bounded embedders)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 32, 24


@register(
    "docs_chunk_sliding",
    f"""
    WITH t AS ({_BIGRAM_SQL})
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           CAST(len(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}]) AS INTEGER)
             AS n_chunk_tokens,
           array_to_string(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}], ' ')
             AS chunk
    FROM t, UNNEST(range(0, CAST(1 + ceil(greatest(n - {_CHUNK}, 0)
                                          / {_STRIDE}.0) AS BIGINT))) AS u(i)
    """,
)
def docs_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows (size {C}, stride {S}) — the chunking
    pass that feeds context-bounded embedding models; the tail chunk is
    partial rather than dropped. Explode is scan-local (no shuffle):
    each document's chunks are produced where its row is read.
    """.format(C=_CHUNK, S=_STRIDE)
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    n_chunks = (
        1 + F.ceil(F.greatest(F.col("n") - _CHUNK, F.lit(0)) / _STRIDE)
    ).cast("int")
    exploded = t.select(
        "doc_id", "toks",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("_pos", "i"),
    )
    window = F.slice("toks", F.col("i") * _STRIDE + 1, _CHUNK)
    return exploded.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        F.size(window).alias("n_chunk_tokens"),
        F.array_join(window, " ").alias("chunk"),
    )


# ---------------------------------------------------------------------------
# PII / URL scrubbing
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"


@register(
    "docs_scrub_pii",
    f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || doc_id ||
                       '@example.com or https://site' || doc_id || '.example/x'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS BIGINT)
             AS n_urls,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_URL_RE}', '<URL>', 'g')) AS scrubbed_md5
    FROM src
    """,
)
def docs_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL redaction with per-document match counts. The fixture
    text is a closed vocabulary, so PII is injected deterministically
    (every 7th doc) the same way on both sides — the regexes and the
    replace-all are what's under test. Output carries the md5 of the
    scrubbed text (the full string would bloat the hash compare)."""
    d = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"),
                     F.lit("@example.com or https://site"), F.col("doc_id"),
                     F.lit(".example/x")),
        ).otherwise(F.col("text")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _URL_RE, "<URL>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0))
          .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_URL_RE), 0))
          .cast("long").alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Reduced-dimension retrieval: Matryoshka truncation + random projection
# ---------------------------------------------------------------------------

_MAT_DIM = 16

_COS16 = (
    "list_dot_product(CAST({a} AS DOUBLE[])[1:16], CAST({b} AS DOUBLE[])[1:16])"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[])[1:16],"
    "                          CAST({a} AS DOUBLE[])[1:16]))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[])[1:16],"
    "                         CAST({b} AS DOUBLE[])[1:16])))"
)


@register(
    "emb_matryoshka_top5",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
    SELECT e.vec_id, e.label,
           ROUND({_COS16.format(a='e.embedding', b='q.qv')}, 6) AS score
    FROM embeddings e CROSS JOIN q
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def emb_matryoshka_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style retrieval: score in the first-{d} prefix
    subspace (cosine over the truncated vectors ≡ truncate + renorm +
    dot), top-5. The plan is the dense-KNN shape — broadcast one query
    row, TakeOrderedAndProject — with 4× less arithmetic per row; the
    full vector is only needed by a rerank stage.
    """.format(d=_MAT_DIM)
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.slice(as_double(F.col("embedding")), 1, _MAT_DIM).alias("qv")
    )
    ev = F.slice(as_double(F.col("embedding")), 1, _MAT_DIM)
    score = dot(ev, F.col("qv")) / (
        F.sqrt(dot(ev, ev)) * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    scored = emb.join(F.broadcast(q)).select(
        "vec_id", "label", F.round(score, 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


_RP_OUT = 4


def _rp_matrix() -> list[list[float]]:
    """Seeded Gaussian projection (64→4), inlined as literals on both
    sides so the oracle shares the exact constants."""
    rng = np.random.RandomState(17)
    return [[float(x) for x in row]
            for row in rng.standard_normal((_RP_OUT, 64))]


_RP = _rp_matrix()


def _rp_sql(vec: str) -> str:
    comps = ", ".join(
        "list_dot_product(CAST({v} AS DOUBLE[]), [{lits}])".format(
            v=vec, lits=", ".join(repr(x) for x in row))
        for row in _RP
    )
    return f"[{comps}]"


@register(
    "emb_random_projection_top5",
    f"""
    WITH p AS (
      SELECT vec_id, label, {_rp_sql('embedding')} AS pe
      FROM embeddings
    ),
    q AS (SELECT pe AS qv FROM p WHERE vec_id = 7)
    SELECT p.vec_id, p.label,
           ROUND(list_dot_product(p.pe, q.qv)
                 / (sqrt(list_dot_product(p.pe, p.pe))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
    FROM p CROSS JOIN q
    ORDER BY score DESC, p.vec_id
    LIMIT 5
    """,
)
def emb_random_projection_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sketch retrieval: project 64-d → 4-d with
    a seeded Gaussian matrix (literal constants, shared with the
    oracle), cosine top-5 in the sketch space. The projection is one
    scan-local expression per output dim — at 100 TB it runs inside
    the same whole-stage-codegen pass as the scan, and the 16×-smaller
    sketch is what gets cached/shuffled downstream."""
    emb = load(spark, sf_dir, "embeddings")
    ev = as_double(F.col("embedding"))
    pe = F.array(*[
        dot(ev, F.array(*[F.lit(x) for x in row])) for row in _RP
    ])
    p = emb.select("vec_id", "label", pe.alias("pe"))
    q = p.filter(F.col("vec_id") == 7).select(F.col("pe").alias("qv"))
    score = dot(F.col("pe"), F.col("qv")) / (
        F.sqrt(dot(F.col("pe"), F.col("pe")))
        * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    scored = p.join(F.broadcast(q)).select(
        "vec_id", "label", F.round(score, 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------

_BENCH_SPLIT_SQL = (
    "CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 15))"
    " AS BIGINT) % 20 = 0"
)


@register(
    "docs_decontaminate",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks,
             len(regexp_extract_all(text, '\\w+')) AS ntok,
             {_BENCH_SPLIT_SQL} AS is_bench
      FROM documents
    ),
    sh AS (
      SELECT doc_id, is_bench,
             unnest(list_distinct(list_transform(range(1, ntok - 2),
                    i -> array_to_string(toks[i:i+3], ' ')))) AS shingle
      FROM t WHERE ntok >= 4
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE is_bench),
    hits AS (
      SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM sh s JOIN bench b USING (shingle)
      WHERE NOT s.is_bench
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_hits FROM hits WHERE n_hits >= 1
    """,
)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / PaLM §7 n-gram
    collision): a deterministic 5% hash split plays the eval set; any
    training doc sharing a distinct word 4-gram with it is flagged
    with its overlap count. The benchmark shingle set broadcasts, so
    the corpus is scanned once with no shuffle before the (rare)
    matched rows aggregate — the shape that survives 100 TB."""
    from ..functions.text import hash64
    from ..operators.dedup import decontaminate

    d = load(spark, sf_dir, "documents")
    is_bench = (
        hash64(F.concat(F.lit("bench:"), F.col("doc_id").cast("string"))) % 20
        == 0
    )
    hits = decontaminate(d.filter(~is_bench), d.filter(is_bench), n=4)
    return hits.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk): the GPT-style pretraining step
# that concatenates each source's token stream and cuts it into fixed
# context windows. Per doc: its running start offset in the stream,
# the window it starts in, and how many window boundaries cut it.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256


@register(
    "docs_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    o AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset
      FROM t
    )
    SELECT doc_id, source, n_tokens, start_offset,
           CAST(start_offset // {_PACK_BUDGET} AS BIGINT) AS window_id,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE (start_offset + n_tokens - 1) // {_PACK_BUDGET}
                     - start_offset // {_PACK_BUDGET} END AS BIGINT)
             AS n_boundary_cuts
    FROM o
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing over per-source token
    streams: a window cumsum assigns every doc its start offset, its
    256-token context window, and the number of window boundaries
    that split it. One shuffle (the per-source window sort); at
    100 TB the partition key is (source, day)-grained so each window
    sort stays executor-sized, and the same cumsum drives the actual
    chunk writer. Deterministic doc order = stable packing across
    reruns — the property training-data reproducibility needs."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    out = d.select(
        "doc_id", "source", n_tok.alias("n_tokens"),
        F.coalesce(F.sum(n_tok).over(w), F.lit(0)).cast("long")
        .alias("start_offset"),
    )
    b = F.lit(_PACK_BUDGET).cast("long")
    return out.select(
        "doc_id", "source", "n_tokens", "start_offset",
        F.floor(F.col("start_offset") / b).cast("long").alias("window_id"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / b)
            - F.floor(F.col("start_offset") / b)
        ).cast("long").alias("n_boundary_cuts"),
    )


# ---------------------------------------------------------------------------
# Dataset assembly: deterministic splits and source mixing — the last
# two steps between a cleaned corpus and a training run.
# ---------------------------------------------------------------------------

_SPLIT_HASH_SQL = (
    "CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))"
    " AS BIGINT) % 100"
)


@register(
    "docs_stratified_split",
    f"""
    WITH b AS (
      SELECT lang,
             CASE WHEN {_SPLIT_HASH_SQL} < 90 THEN 'train'
                  WHEN {_SPLIT_HASH_SQL} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM b GROUP BY lang, split
    """,
)
def docs_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by content-hash
    bucket, reported per language: the split every training run needs,
    reproducible across engines/reruns/repartitioning (no RNG state —
    the same property as ``documents_hash_sample``). Map-only over the
    scan; the only shuffle is the tiny (lang × split) count agg."""
    from ..functions.text import hash64

    d = load(spark, sf_dir, "documents")
    bucket = hash64(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (F.when(bucket < 90, "train")
             .when(bucket < 95, "val").otherwise("test"))
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_MIX_HASH_SQL = (
    "CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))"
    " AS BIGINT) % 10000"
)

# per-source sampling rates: up-weight the clean source, down-weight
# the rest (the web-data reality: CommonCrawl gets a fraction, curated
# sources are kept whole)
_MIX_RATES_SQL = ("CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000"
                  " ELSE 2500 END")


@register(
    "docs_source_mixture",
    f"""
    WITH m AS (
      SELECT source,
             CASE WHEN {_MIX_HASH_SQL} < {_MIX_RATES_SQL}
                  THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           ROUND(SUM(kept) / CAST(COUNT(*) AS DOUBLE), 6) AS kept_frac
    FROM m GROUP BY source
    """,
)
def docs_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixing (the pretraining 'data recipe' step): keep each
    document with a per-source rate — here 100 % of src0, 50 % of
    src1, 25 % of the rest — decided by a deterministic content-hash
    threshold, so the realized mixture is reproducible and any doc's
    membership is recomputable without stored state. Same scan-local
    shape as the split: no shuffle before the per-source counts."""
    from ..functions.text import hash64

    d = load(spark, sf_dir, "documents")
    bucket = hash64(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 10000
    rate = (F.when(F.col("source") == "src0", 10000)
            .when(F.col("source") == "src1", 5000).otherwise(2500))
    kept = F.when(bucket < rate, 1).otherwise(0)
    return (
        d.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("kept_frac"),
        )
    )


@register(
    "docs_source_profile",
    r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT text) / CAST(COUNT(*) AS DOUBLE), 6)
             AS dup_frac,
           ROUND(AVG(CAST(len(regexp_extract_all(text, '\w+')) AS DOUBLE)), 6)
             AS avg_tokens,
           ROUND(AVG(CAST(length(text) AS DOUBLE)), 6) AS avg_chars
    FROM documents GROUP BY source
    """,
)
def docs_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: volume, exact-dup rate, and mean
    token/char lengths — the profile sheet a curation run prints per
    input source. One shuffle (groupBy source; count-distinct adds its
    partial-agg expand). The averages are over integer-valued doubles,
    so they are order-independent (exact integer sums below 2^53) and
    hash-match the oracle."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_distinct"),
        F.round(1.0 - F.countDistinct("text") / F.count(F.lit(1)), 6)
        .alias("dup_frac"),
        F.round(F.avg(F.size(tokens(F.col("text"))).cast("double")), 6)
        .alias("avg_tokens"),
        F.round(F.avg(F.length("text").cast("double")), 6).alias("avg_chars"),
    )


@register(
    "docs_unigram_perplexity",
    r"""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM terms GROUP BY term
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM vocab),
    lps AS (
      SELECT t.doc_id,
             ln(CAST(v.n AS DOUBLE) / CAST(tt.total AS DOUBLE)) AS lp
      FROM terms t JOIN vocab v ON t.term = v.term CROSS JOIN tot tt
    ),
    agg AS (
      SELECT doc_id, list(lp ORDER BY lp) AS lps,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM lps GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(-list_reduce(lps, (a, b) -> a + b)
                 / CAST(n_tokens AS DOUBLE), 6) AS nll
    FROM agg
    """,
)
def docs_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score (the CCNet idea —
    rank documents by LM negative log-likelihood — with the LM being
    the corpus's own unigram distribution, so no external model):
    per-doc mean −ln p(token), low = typical text, high = outlier.

    Float-sum parity across engines is by SORTED left-fold: each
    doc's token log-probs are sorted then folded left-to-right
    (``aggregate(array_sort(collect_list(...)))`` ≡ DuckDB
    ``list_reduce(list(lp ORDER BY lp))`` — IEEE addition in an
    identical order on both sides), instead of hoping a native SUM
    associates identically. Shape: token counts are one uniform-key
    shuffle; the vocab joins back broadcast (a 10⁷-type vocabulary is
    ~100 MB — broadcastable; bucket the join if the tokenizer
    explodes it); the per-doc fold is scan-local over ≤doc-length
    arrays."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term"))
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = vocab.agg(F.sum("n").alias("total"))
    lps = (
        terms.join(F.broadcast(vocab), on="term")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            F.log(F.col("n").cast("double")
                  / F.col("total").cast("double")).alias("lp"),
        )
    )
    agg = lps.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("lp")).alias("lps"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    s = F.aggregate(F.col("lps"), F.lit(0.0),
                    lambda acc, x: acc + x)
    return agg.select(
        "doc_id", "n_tokens",
        F.round(-s / F.col("n_tokens").cast("double"), 6).alias("nll"),
    )


_DSIR_B = 4096  # hashed-feature buckets (DSIR's hashed n-gram space)

@register(
    "docs_dsir_select",
    f"""
    WITH toked AS (
      SELECT doc_id, source, regexp_extract_all(text, '\\w+') AS toks
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, unnest(
        list_concat(toks,
          CASE WHEN len(toks) >= 2 THEN
            list_transform(generate_series(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1])
          ELSE [] END)) AS feat
      FROM toked
    ),
    b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT)
               % {_DSIR_B} AS bucket
      FROM feats
    ),
    t AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tn
          FROM b WHERE source = 'src0' GROUP BY bucket),
    r AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rn
          FROM b WHERE source <> 'src0' GROUP BY bucket),
    tt AS (SELECT CAST(COALESCE(SUM(tn), 0) AS BIGINT) AS ttotal FROM t),
    rt AS (SELECT CAST(COALESCE(SUM(rn), 0) AS BIGINT) AS rtotal FROM r),
    lp AS (
      SELECT bb.doc_id,
             ln(CAST(COALESCE(t.tn, 0) + 1 AS DOUBLE)
                / CAST(tt.ttotal + {_DSIR_B} AS DOUBLE))
           - ln(CAST(COALESCE(r.rn, 0) + 1 AS DOUBLE)
                / CAST(rt.rtotal + {_DSIR_B} AS DOUBLE)) AS lp
      FROM b bb LEFT JOIN t ON bb.bucket = t.bucket
                LEFT JOIN r ON bb.bucket = r.bucket
                CROSS JOIN tt CROSS JOIN rt
    ),
    agg AS (
      SELECT doc_id, list(lp ORDER BY lp) AS lps,
             CAST(COUNT(*) AS BIGINT) AS n_feats
      FROM lp GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id, n_feats,
             ROUND(list_reduce(lps, (a, b) -> a + b), 6) AS logw
      FROM agg
    )
    SELECT doc_id, n_feats, logw,
           ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id)
             <= CAST(FLOOR(0.25 * COUNT(*) OVER ()) AS BIGINT) AS keep
    FROM scored
    """,
)
def docs_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log importance weight of its hashed n-gram features under
    a TARGET bag-of-ngrams LM vs the RAW corpus LM —
    ``Σ_feat [ln p_target(b) − ln p_raw(b)]`` with add-1 smoothing
    over the hashed bucket space. The fixture's ``src0`` plays the
    target domain (the Wikipedia/books role); features are word
    unigrams + bigrams hashed into 4096 buckets via the portable md5
    hash (the cross-engine twin of DSIR's hashed feature space).
    ``keep`` marks the top 25 % by weight (ties by doc_id) — the
    deterministic form of DSIR's importance resampling (the paper
    draws a Gumbel top-k over these same weights; the weights, not
    the draw, are the engine's work). The selection rank is a global
    window here; at corpus scale replace it with a threshold from a
    sampled weight quantile — the weights themselves need no change.

    Shape: feature explode is scan-local; bucket counts are one
    uniform shuffle over int keys bounded by B; both LMs broadcast
    back (B ≤ 4096 rows each — at any corpus size, since the space is
    hashed); the per-doc sorted left-fold (float parity, same
    convention as `docs_unigram_perplexity`) is scan-local. The raw
    corpus is never re-shuffled wide — the op is two map passes and a
    tiny agg, which is exactly why DSIR scales to trillions of
    tokens."""
    docs = load(spark, sf_dir, "documents")
    n_par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < n_par:
        # guide §2.5 "input skew": a single-row-group scan pipelines
        # the tokenize+explode feature pass into ONE map task per
        # evaluation (measured: 1.4-2.1 s 1-task broadcast builds).
        # Split after the read; self-disabling at scale.
        docs = docs.repartition(n_par, F.col("doc_id"))
    toked = docs.select("doc_id", "source",
                        tokens(F.col("text")).alias("toks"))
    feats = F.expr("""
      concat(toks, CASE WHEN size(toks) >= 2
        THEN transform(sequence(1, size(toks) - 1),
                       i -> concat(toks[i - 1], ' ', toks[i]))
        ELSE CAST(array() AS array<string>) END)
    """)
    from ..functions.text import hash64

    b = toked.select(
        "doc_id", "source", F.explode(feats).alias("feat")
    ).select(
        "doc_id", "source",
        (hash64(F.col("feat")) % _DSIR_B).alias("bucket"))
    # BOTH LMs from ONE aggregation pass over the features (the
    # separate t/r/tt/rt frames each re-ran the tokenize+explode
    # subtree as their own broadcast build — 5 feature passes for a
    # query whose docstring promises two). Conditional counts equal
    # the filtered counts; a bucket absent from one side reads 0
    # instead of the old NULL, and (0 + 1) == coalesce(NULL, 0) + 1.
    stats = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("source") == "src0", 1)
              .otherwise(0)).alias("tn"),
        F.sum(F.when(F.col("source") != "src0", 1)
              .otherwise(0)).alias("rn"))
    totals = stats.agg(
        F.coalesce(F.sum("tn"), F.lit(0)).alias("ttotal"),
        F.coalesce(F.sum("rn"), F.lit(0)).alias("rtotal"))
    lp = (
        b.join(F.broadcast(stats), "bucket", "left")
        .join(F.broadcast(totals))
        .select(
            "doc_id",
            (F.log((F.coalesce(F.col("tn"), F.lit(0)) + 1).cast("double")
                   / (F.col("ttotal") + _DSIR_B).cast("double"))
             - F.log((F.coalesce(F.col("rn"), F.lit(0)) + 1).cast("double")
                     / (F.col("rtotal") + _DSIR_B).cast("double"))
             ).alias("lp"),
        )
    )
    from ..operators.skew import pin_group_parallelism

    # the per-doc sort+fold is CPU-heavy HOF work over a small
    # shuffle — pin the exchange so AQE cannot serialize it
    agg = pin_group_parallelism(lp, "doc_id").groupBy("doc_id").agg(
        F.array_sort(F.collect_list("lp")).alias("lps"),
        F.count(F.lit(1)).alias("n_feats"),
    )
    scored = agg.select(
        "doc_id", "n_feats",
        F.round(F.aggregate(F.col("lps"), F.lit(0.0),
                            lambda acc, x: acc + x), 6).alias("logw"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("logw").desc(), F.col("doc_id"))
    n = Window.partitionBy()
    return scored.withColumn(
        "keep",
        F.row_number().over(w)
        <= F.floor(0.25 * F.count(F.lit(1)).over(n)))


# ---------------------------------------------------------------------------
# PCA-compressed retrieval (learned dimensionality reduction — the
# trained counterpart of the matryoshka prefix and the JL sketch)
# ---------------------------------------------------------------------------

_PCA_OUT = 8
_NP_PCA: dict = {}


def _np_pca(sf_dir: str, r: int = _PCA_OUT):
    """Deterministic PCA train per sf_dir: mean + top-r eigenvectors
    of the covariance over the embeddings fixture, derived driver-side
    in pure numpy from a sorted parquet read (`read_vectors_np`, the
    kmeans_np convention) — the query builder and the oracle factory
    call THIS, so their component literals are bit-identical. Sign
    fixed per component (largest-|x| entry positive) so eigh's sign
    ambiguity can't flip a column. At 100 TB: train on a seeded
    ≤64k-row sample, project scan-local (one codegen pass)."""
    import os

    key = (sf_dir, r)
    if key not in _NP_PCA:
        from ..operators.ann import read_vectors_np

        X = read_vectors_np(os.path.join(sf_dir, "embeddings.parquet"))
        mu = X.mean(axis=0)
        Xc = X - mu
        C = (Xc.T @ Xc) / len(X)
        w, V = np.linalg.eigh(C)
        order = np.argsort(w)[::-1][:r]
        W = V[:, order].T.copy()
        for i in range(r):
            j = int(np.argmax(np.abs(W[i])))
            if W[i, j] < 0.0:
                W[i] = -W[i]
        _NP_PCA[key] = ([float(m) for m in mu],
                        [[float(x) for x in row] for row in W])
    return _NP_PCA[key]


def _pca_project_expr(mu: list, W: list):
    """Unrolled JVM-parsed projection (the centroid/ADC convention):
    left-associated (e[j] − mu_j)·w_j sums are float-identical to the
    oracle's list_dot_product over the centered array, and they run
    inside whole-stage codegen instead of interpreted HOFs."""
    comps = []
    for row in W:
        terms = " + ".join(
            f"((CAST(element_at(`embedding`, {j + 1}) AS DOUBLE)"
            f" - {m!r}D) * {x!r}D)"
            for j, (m, x) in enumerate(zip(mu, row)))
        comps.append(f"({terms})")
    return F.expr("array(" + ", ".join(comps) + ")")


def _pca_ce_sql(mu: list) -> str:
    return "[" + ", ".join(
        f"CAST(embedding[{j + 1}] AS DOUBLE) - {m!r}"
        for j, m in enumerate(mu)) + "]"


def _pca_pe_sql(W: list) -> str:
    """Projection over a prior `ce` alias — sequential list_dot_product
    matches the Spark side's left-associated unrolled sums exactly."""
    return "[" + ", ".join(
        "list_dot_product(ce, [" + ", ".join(repr(x) for x in row) + "])"
        for row in W) + "]"


def _pca_oracle(sf_dir: str, k: int = 5) -> str:
    """Oracle FACTORY: re-derives the identical mean/components, then
    recomputes center → project → cosine with the same left-to-right
    dot shapes as every KNN twin."""
    mu, W = _np_pca(sf_dir)
    ce, pe = _pca_ce_sql(mu), _pca_pe_sql(W)
    return f"""
    WITH c AS (SELECT vec_id, label, {ce} AS ce FROM embeddings),
    p AS (SELECT vec_id, label, {pe} AS pe FROM c),
    q AS (SELECT pe AS qv FROM p WHERE vec_id = 7)
    SELECT p.vec_id, p.label,
           ROUND(list_dot_product(p.pe, q.qv)
                 / (sqrt(list_dot_product(p.pe, p.pe))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
    FROM p CROSS JOIN q
    ORDER BY score DESC, p.vec_id
    LIMIT {k}
    """


@register("emb_pca_top5", _pca_oracle)
def emb_pca_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-compressed retrieval: center on the trained mean, project
    64-d → 8-d (``_PCA_OUT``) through the top eigenvectors (literal
    constants shared with the oracle factory), cosine top-5 in the
    compressed space. Training is a bounded driver-side numpy pass
    (the FAISS / kmeans_np sampled-train convention); the projection
    itself is one scan-local expression per output dim — at 100 TB it
    runs inside the scan's whole-stage-codegen pass, and the
    8×-smaller compressed column is what gets stored/shuffled
    downstream (same sidecar layout as the SQ/PQ codes)."""
    mu, W = _np_pca(sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    pe = _pca_project_expr(mu, W)
    p = emb.select("vec_id", "label", pe.alias("pe"))
    q = p.filter(F.col("vec_id") == 7).select(F.col("pe").alias("qv"))
    score = dot(F.col("pe"), F.col("qv")) / (
        F.sqrt(dot(F.col("pe"), F.col("pe")))
        * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    scored = p.join(F.broadcast(q)).select(
        "vec_id", "label", F.round(score, 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


# ---------------------------------------------------------------------------
# PCA → IVF composition (the FAISS "PCA,IVF" transform-then-index
# pattern: coarse-quantize in the compressed space, rescore full-width)
# ---------------------------------------------------------------------------

_PCA_IVF_K = 16
_NP_PCA_CENTS: dict = {}


def _np_pca_centroids(sf_dir: str, kc: int = _PCA_IVF_K):
    """kmeans_np over the PCA-projected corpus — training is free to
    use BLAS (the centroids are shared literals, not re-derived
    computations); only probe/assignment shapes must match the SQL."""
    key = (sf_dir, kc)
    if key not in _NP_PCA_CENTS:
        import os

        from ..operators.ann import kmeans_np, read_vectors_np

        mu, W = _np_pca(sf_dir)
        X = read_vectors_np(os.path.join(sf_dir, "embeddings.parquet"))
        Xp = (X - np.asarray(mu)) @ np.asarray(W).T
        _NP_PCA_CENTS[key] = kmeans_np(Xp, kc, seed=42)
    return _NP_PCA_CENTS[key]


def _np_pca_probe(sf_dir: str, nprobe: int = 4) -> list[int]:
    """Driver-side coarse probe: project the query with EXPLICIT
    left-to-right float64 folds (the exact SQL shape — no BLAS, whose
    summation order differs), then rank the cells by ``nearest_np``,
    the rule the layout was assigned by."""
    import os

    from ..operators.ann import nearest_np, read_vectors_np

    mu, W = _np_pca(sf_dir)
    q = read_vectors_np(os.path.join(sf_dir, "embeddings.parquet"))[7]
    qp = []
    for row in W:
        acc = 0.0
        for j, (m, x) in enumerate(zip(mu, row)):
            acc += (float(q[j]) - m) * x
        qp.append(acc)
    _, ids = nearest_np([qp], _np_pca_centroids(sf_dir), nprobe)
    return sorted(int(i) for i in ids[0])


_PCA_IVF_CACHE: dict = {}


def _pca_ivf_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-time projected+assigned layout ``(vec_id, embedding, cid)``
    — the assignment argmin references the 512-op projection 16×8×2
    times, and projection collapse would re-inline it into EVERY
    reference (~8M ops/row, unrunnable); project into a checkpointed
    frame first (the `_ivf_det_index` lineage-cut rationale), then
    assign over the materialized 8-d column. On disk this is the usual
    ``partitionBy(centroid_id)`` layout, built once."""
    from ..operators.ann import nearest_cells
    from .ann import _cache_key, _session_alive

    key = _cache_key(spark, sf_dir)
    if key not in _PCA_IVF_CACHE or not _session_alive(spark):
        mu, W = _np_pca(sf_dir)
        cents = [[float(x) for x in c] for c in _np_pca_centroids(sf_dir)]
        emb = load(spark, sf_dir, "embeddings")
        p = emb.select("vec_id", "embedding",
                       _pca_project_expr(mu, W).alias("pe")
                       ).localCheckpoint()
        _PCA_IVF_CACHE[key] = p.withColumn(
            "cid", nearest_cells(cents, "pe")[0]["i"]).localCheckpoint()
    return _PCA_IVF_CACHE[key]


def _duck_pe_dist(c) -> str:
    return "(" + " + ".join(
        f"((p.pe[{j + 1}] - {float(x)!r}) * (p.pe[{j + 1}] - {float(x)!r}))"
        for j, x in enumerate(c)) + ")"


def _pca_ivf_oracle(sf_dir: str, k: int = 5, nprobe: int = 4) -> str:
    """Oracle FACTORY: re-derives mean/components AND centroids, then
    recomputes projection, first-min assignment, the nprobe probe, and
    the full-width cosine rescore — the entire transform-then-index
    read path hash-checked (the _ivf_det_oracle discipline in the
    compressed space)."""
    mu, W = _np_pca(sf_dir)
    cents = _np_pca_centroids(sf_dir)
    ce, pe = _pca_ce_sql(mu), _pca_pe_sql(W)
    dl = "list_value(" + ", ".join(_duck_pe_dist(c) for c in cents) + ")"
    probe_rows = " UNION ALL ".join(
        f"SELECT {i} AS cid, {_duck_pe_dist(c)} AS d FROM qp p"
        for i, c in enumerate(cents))
    cos = (
        "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]),"
        " CAST({a} AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]),"
        " CAST({b} AS DOUBLE[]))))"
    )
    return f"""
    WITH c0 AS (SELECT vec_id, embedding, {ce} AS ce FROM embeddings),
    p AS (SELECT vec_id, embedding, {pe} AS pe FROM c0),
    qp AS (SELECT pe FROM p WHERE vec_id = 7),
    probe AS (
      SELECT cid FROM ({probe_rows})
      ORDER BY d ASC, cid ASC LIMIT {nprobe}
    ),
    cand AS (
      SELECT p.vec_id, p.embedding,
             list_position({dl}, list_min({dl})) - 1 AS cid
      FROM p
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
    SELECT c.vec_id,
           ROUND({cos.format(a='c.embedding', b='q.qv')}, 6) AS score
    FROM cand c CROSS JOIN q
    WHERE c.cid IN (SELECT cid FROM probe)
    ORDER BY score DESC, c.vec_id
    LIMIT {k}
    """


@register("emb_pca_ivf_top5", _pca_ivf_oracle)
def emb_pca_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA→IVF composed retrieval (FAISS's ``PCA64,IVF...`` index
    factory pattern): coarse-quantize in the 8-d COMPRESSED space
    (16 kmeans_np cells trained on projected vectors — an 8× cheaper
    assignment pass and an 8× smaller routing table than raw-space
    IVF), probe the query's 4 nearest cells, exact full-width cosine
    over just the probed fraction. Assignment, probe, AND rescore are
    value-checked through the factory oracle. At 100 TB: the
    projection+assignment is one map-only scan; cells become the usual
    ``partitionBy(centroid_id)`` layout; the compressed routing table
    (16×8 floats) broadcasts for free."""
    probe = _np_pca_probe(sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    cand = _pca_ivf_frame(spark, sf_dir).filter(F.col("cid").isin(probe))
    qv = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qv"))
    ev = as_double(F.col("embedding"))
    qd = as_double(F.col("qv"))
    score = dot(ev, qd) / (F.sqrt(dot(ev, ev)) * F.sqrt(dot(qd, qd)))
    return (cand.join(F.broadcast(qv))
            .select("vec_id", F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(5))
