"""The two workloads. Each has a ``setup`` (timed as ``setup_s``, never
part of a latency) and a ``measure`` closed loop: one client sends its
next request only after the previous one returned. The loop runs whole
units (a serve cycle, an ingest round) and starts another only while
the run's seconds leave room for one more unit as long as the last, so
every run is made of whole units and ends close to its time.

The engine is driven only through its public functions; its inputs
are the parquet files written here from the seeded generators.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import tree_bytes, tree_cpu_s


class Run:
    """Per-run state: the session, the span recorder, the op counters
    and the raw samples the metrics are computed from."""

    def __init__(self, spark, rec, work: str, seed: int, seconds: float,
                 trace: bool):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = {}   # span name -> ms samples
        self.out: dict[str, float] = {}          # workload figures
        self.stream_groups: dict[str, list[str]] = {}
        self.write_files: dict[str, tuple[int, int, int]] = {}
        # while set, span names get a "warmup." prefix, so warm-up calls
        # are checked but reach neither a latency nor a layer metric
        self.warming = False

    def label(self, name: str) -> str:
        return f"warmup.{name}" if self.warming else name

    def call(self, name: str, fn, request: int = 0, check=None,
             timed: bool = True, watch: str | None = None,
             points: int = 0):
        """Run ``fn()`` as one operation in a span named ``name``.
        ``check(result)`` returns None when the result is right, else
        the reason. An exception or a failed check counts as one failed
        operation. ``watch``: a directory whose new or changed files are
        recorded, with the ``points`` the call wrote, for the write
        metrics (traced runs only). Returns (result, span);
        ``span.error`` is set when ``fn`` raised."""
        name = self.label(name)
        self.attempted += 1
        before = _file_sizes(watch) if watch and self.trace else None
        out = None
        try:
            with self.rec.span(name, request):
                out = fn()
        except Exception as exc:  # the loop must go on; count and record
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: "
                               f"{str(exc)[:300]}")
        sp = self.rec.spans[-1]
        if sp.error:
            return None, sp
        if before is not None:
            after = _file_sizes(watch)
            new = [n for p, n in after.items() if before.get(p) != n]
            self.write_files[sp.id] = (len(new), sum(new), points)
        if timed:
            self.lat.setdefault(name, []).append(sp.wall_ms)
        if check is not None:
            why = check(out)
            if why:
                self.failed += 1
                self.errors.append(f"{name}: {why}")
        return out, sp

    def mark(self) -> None:
        """Start the CPU count of the measured calls."""
        self._mark = (tree_cpu_s(os.getpid()), self.attempted)

    def cpu_ms_per_call(self) -> tuple[float, float]:
        """CPU ms per engine call since ``mark``: the process tree's
        without the JIT compiler's share, and that share. When the JVM
        compiles is its own choice and moves from run to run, so it is
        kept apart."""
        (cpu0, jit0), calls = self._mark
        cpu1, jit1 = tree_cpu_s(os.getpid())
        n = max(self.attempted - calls, 1)
        jit = jit1 - jit0
        return (cpu1 - cpu0 - jit) * 1000.0 / n, jit * 1000.0 / n

    def loop(self, unit, at_least: int = 1) -> int:
        """Call ``unit(i)`` for i = 0, 1, ... while the run's seconds
        leave room for one more call as long as the last one, and at
        least ``at_least`` times. Returns the number of calls."""
        t0 = time.perf_counter()
        n = 0
        while True:
            t1 = time.perf_counter()
            unit(n)
            n += 1
            now = time.perf_counter()
            if n >= at_least and now - t0 + (now - t1) > self.seconds:
                return n


def kind_mean(samples: dict[str, list[float]]) -> float:
    """Mean over request kinds of each kind's median latency: every kind
    weighs the same however many samples it has."""
    meds = [statistics.median(v) for v in samples.values() if v]
    return float(statistics.fmean(meds)) if meds else 0.0


def _file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def _vec_table(ids: np.ndarray, vecs: np.ndarray, extra: dict) -> pa.Table:
    """Arrow table with an ``embedding`` list<double> column (nested
    list<list<double>> when ``vecs`` is 3-d)."""
    col = pa.array(vecs.reshape(-1), type=pa.float64())
    for width in reversed(vecs.shape[1:]):
        col = pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(col) + 1, width, dtype=np.int32)), col)
    return pa.table({"id": pa.array(ids, type=pa.int64()), "embedding": col,
                     **{k: pa.array(v) for k, v in extra.items()}})


def _exact(rows, t_ids, t_scores, id_col="id"):
    """None when ``rows`` are the exact top-k: same ids in the same
    order, or the same scores to one unit of the published rounding
    (a numpy score on the rounding edge may round either way)."""
    rows = sorted(rows, key=lambda r: (-r["score"], r[id_col]))
    ids = [r[id_col] for r in rows]
    if ids == list(t_ids):
        return None
    scores = np.array([r["score"] for r in rows])
    if len(scores) == len(t_scores) and \
            np.max(np.abs(scores - t_scores)) <= 10.0 ** -gen.SCORE_DECIMALS:
        return None
    return f"ids {ids[:4]}... != truth {list(t_ids)[:4]}..."


def _recall(ids, truth) -> float:
    return len(set(ids) & set(truth)) / len(truth)


def _hit_is(rows, pred, what):
    bad = [r["id"] for r in rows if not pred(r)]
    return f"{len(bad)} hits violate {what}" if bad else None


# --- serve -------------------------------------------------------------

SERVE_N = 1000          # points in the dense collection
SERVE_DIM = 64
MV_DOCS, MV_VECS, MV_DIM, MV_QVECS = 200, 8, 32, 4
POOL = 32               # queries per class, replayed round robin
BATCH = 8
# one cycle of the replay: every class once, and the two filter kinds
# (tenant match, price range) once each
CYCLE = ("flat", "hnsw", "batch", "mv", "filtered", "filtered")
APPROX = ("hnsw", "filtered")


class Serve:
    """The paper's retrieve half: two read-only collections (HNSW and
    MaxSim), a seeded replay of single searches per class and
    ``search_batch`` calls. The first cycle is a warm-up."""

    def __init__(self, run: Run):
        self.r = run

    def setup(self) -> None:
        from image_indexing_and_retrival_with_qdrant_spark.catalog import (
            create_collection,
        )
        r, rng = self.r, self.r.rng
        x, centers = gen.gaussian_corpus(rng, SERVE_N, SERVE_DIM)
        pay = gen.planted_payload(rng, SERVE_N)
        ids = np.arange(SERVE_N, dtype=np.int64)
        docs, topics = gen.multivector_corpus(rng, MV_DOCS, MV_VECS, MV_DIM)
        mv_ids = np.arange(MV_DOCS, dtype=np.int64)
        self.q = gen.near_queries(rng, centers, POOL)
        self.qmv = gen.multivector_queries(rng, topics, POOL, MV_QVECS)
        self.tenants = rng.integers(0, 8, POOL)
        inp = os.path.join(r.work, "in")
        os.makedirs(inp)
        pq.write_table(_vec_table(ids, x, pay), os.path.join(inp, "dense.parquet"))
        pq.write_table(_vec_table(mv_ids, docs, {}),
                       os.path.join(inp, "mv.parquet"))
        self.raw_bytes = (SERVE_N * (8 + SERVE_DIM * 4 + 16)
                          + MV_DOCS * (8 + MV_VECS * MV_DIM * 4))

        # ground truth, computed once and never timed
        self.truth = [gen.cosine_topk(x, ids, q) for q in self.q]
        self.ftruth = []
        for i, q in enumerate(self.q):
            mask = (pay["tenant"] == self.tenants[i]) if i % 2 == 0 \
                else (pay["price"] < 60.0)
            self.ftruth.append(gen.cosine_topk(x, ids, q, mask))
        unit = docs / np.linalg.norm(docs, axis=-1, keepdims=True)
        self.mvtruth = [gen.maxsim_topk(unit, mv_ids, q) for q in self.qmv]

        spark = r.spark
        self.root = os.path.join(r.work, "collections")
        # the exact tier (classes flat and batch) scans the HNSW
        # collection with exact=True, which saves a second dense build
        specs = {
            "hnsw": dict(dim=SERVE_DIM, indexing_threshold=SERVE_N,
                         hnsw_config={"m": 16, "ef_construct": 64}),
            "mv": dict(dim=MV_DIM, multivector=True),
        }
        self.coll = {}
        for name, spec in specs.items():
            src = "mv.parquet" if name == "mv" else "dense.parquet"
            c, _ = r.call("catalog.write.create", lambda n=name, s=spec:
                          create_collection(self.root, n, **s), timed=False)
            if c is None:
                raise RuntimeError(f"cannot create collection {name}: "
                                   f"{r.errors[-1]}")
            _write(r, c, "catalog.write.upsert",
                   lambda c=c, src=src: c.upsert(
                       spark, spark.read.parquet(os.path.join(inp, src))),
                   self.root, MV_DOCS if name == "mv" else SERVE_N,
                   timed=False)
            self.coll[name] = c

    def measure(self) -> None:
        r = self.r
        self.nxt = {c: 0 for c in CYCLE}
        self.kinds: dict[str, list[float]] = {}
        self.recalls: list[float] = []
        self.batch_ms: list[float] = []

        def cycle(n: int) -> None:
            r.warming = n == 0
            if n == 1:
                r.mark()
            try:
                for cls in CYCLE:
                    self._request(cls)
            finally:
                r.warming = False

        cycles = r.loop(cycle, at_least=2)
        singles = [ms for k, v in self.kinds.items() if k != "batch"
                   for ms in v]
        r.out.update(
            cpu_ms_per_call=r.cpu_ms_per_call(),
            latency_ms=kind_mean(self.kinds),
            singles=singles,
            batch_qps=BATCH * len(self.batch_ms) / (sum(self.batch_ms) / 1000.0)
            if self.batch_ms else 0.0,
            recall_at_10=float(np.mean(self.recalls)) if self.recalls else 0.0,
            storage_amp=tree_bytes(self.root) / self.raw_bytes,
            rounds=cycles - 1,
        )

    def _request(self, cls: str) -> None:
        from image_indexing_and_retrival_with_qdrant_spark.filters import (
            FieldCondition,
            Filter,
        )
        r, spark = self.r, self.r.spark
        i = self.nxt[cls] % POOL
        self.nxt[cls] += 1
        req = r.rec.new_request()
        name = f"catalog.read.{cls}"
        kind = cls
        if cls == "batch":
            qi = [(i * BATCH + j) % POOL for j in range(BATCH)]

            def check(rows, qi=qi):
                by_q: dict[int, list] = {}
                for row in rows:
                    by_q.setdefault(row["query_idx"], []).append(row)
                for j, q in enumerate(qi):
                    why = _exact(by_q.get(j, []), *self.truth[q])
                    if why:
                        return f"query {j}: {why}"
                return None

            rows, sp = r.call(name, lambda: self.coll["hnsw"].search_batch(
                spark, [self.q[q].tolist() for q in qi], k=gen.TOP_K,
                exact=True).collect(), req, check)
            if rows is not None and not r.warming:
                self.batch_ms.append(sp.wall_ms)
        elif cls == "mv":
            rows, sp = r.call(name, lambda: self.coll["mv"].search(
                spark, self.qmv[i].tolist(), k=gen.TOP_K).collect(),
                req, lambda rows: _exact(rows, *self.mvtruth[i]))
        elif cls == "filtered":
            if i % 2 == 0:
                t = int(self.tenants[i])
                flt = Filter(must=[FieldCondition(key="tenant", match=t)])
                ok = (lambda row: row["tenant"] == t, "tenant match")
                kind = "filtered.tenant"
            else:
                flt = Filter(must=[FieldCondition(
                    key="price", range={"lt": 60.0})])
                ok = (lambda row: row["price"] < 60.0, "price < 60")
                kind = "filtered.price"
            rows, sp = r.call(name, lambda: self.coll["hnsw"].search(
                spark, self.q[i].tolist(), k=gen.TOP_K,
                query_filter=flt).collect(), req,
                lambda rows: _hit_is(rows, *ok))
            truth = self.ftruth[i][0]
        else:
            exact = cls == "flat"
            check = ((lambda rows: _exact(rows, *self.truth[i]))
                     if exact else None)
            rows, sp = r.call(name, lambda: self.coll["hnsw"].search(
                spark, self.q[i].tolist(), k=gen.TOP_K,
                exact=exact).collect(), req, check)
            truth = self.truth[i][0]
        if rows is None or r.warming:
            return
        self.kinds.setdefault(kind, []).append(sp.wall_ms)
        if cls in APPROX:
            self.recalls.append(_recall([row["id"] for row in rows], truth))


def _write(r: Run, coll, name: str, fn, watch: str, points: int,
           request: int = 0, check=None, timed: bool = True):
    """A write call; the one during which the collection's deferred
    index appears is recorded as ``catalog.index_build``."""
    had = coll.has_index()
    out, sp = r.call(name, fn, request, check, timed=False, watch=watch,
                     points=points)
    if not had and coll.has_index():
        sp.name = r.label("catalog.index_build")
    if timed and not sp.error:
        r.lat.setdefault(sp.name, []).append(sp.wall_ms)
    return out, sp


# --- ingest ------------------------------------------------------------

ING_BATCH = 100        # points per upsert batch
ING_BATCHES = 1        # one upsert batch; the deferred index builds during it
ING_MERGE = 0.10       # share of written ids re-upserted with new text
ING_PAYLOAD = 0.05     # share of ids whose tier is set
ING_DIM = 16           # HashEmbedder width
PIPE_DOCS = 1000       # corpus documents cleaned per round
PIPE_EVENTS = 5000     # events per delivery; delivered twice
MIN_BANDS = 2          # candidate pairs sharing >= 2 of 4 LSH bands

WRITE_KINDS = ("catalog.write.upsert", "catalog.index_build",
               "catalog.write.merge", "catalog.write.set_payload",
               "catalog.write.delete")
CLEAN_KINDS = ("functions.text.quality", "operators.dedup.exact",
               "operators.dedup.minhash", "operators.dedup.band_pairs",
               "operators.dedup.components")
INGEST_KINDS = CLEAN_KINDS + ("streaming.dedup",) + WRITE_KINDS + (
    "catalog.read.check",)


class Ingest:
    """The paper's ingest half, one round per unit. Clean: quality
    signals, exact dedup, MinHash → LSH band pairs → connected
    components, and a stateful streaming dedup of a twice-delivered
    event stream. Write: text → HashEmbedder → build_points → an upsert
    into an empty HNSW collection whose deferred index builds during
    it, then a merge upsert, a set_payload and a delete by filter; each write is followed by a check search and a
    count (plus a retrieve where ids changed). There is no warm-up: a
    round is longer than a run's seconds, so a run is one round, and it
    pays the session's first codegen, Python workers, index build and
    streaming start, as a batch ingest job does."""

    def __init__(self, run: Run):
        self.r = run

    def setup(self) -> None:
        from image_indexing_and_retrival_with_qdrant_spark.sources.embedder \
            import HashEmbedder
        self.emb = HashEmbedder(dim=ING_DIM, normalize=True)
        self.d = self._inputs()
        self.points = 0
        self.recalls: list[float] = []
        self.dup_recalls: list[float] = []
        self.drain_ms: list[float] = []
        self.storage_amp = 0.0
        self.stream_amp = 0.0
        self.r.out["stream_progress"] = []

    def _inputs(self):
        """A round's inputs, written under ``in/``, with their truth."""
        rng = self.r.rng
        batch = ING_BATCH
        d = SimpleNamespace(batch=batch)
        base = os.path.join(self.r.work, "in")
        os.makedirs(base)
        # write half
        n = batch * ING_BATCHES
        n_merge = int(n * ING_MERGE)
        texts = gen.ingest_texts(rng, n + n_merge)
        d.keys = [f"doc{i}" for i in range(n)]
        d.texts = texts[:n]
        d.tenant = rng.integers(0, 8, n).astype(np.int64)
        d.merge_idx = np.sort(rng.choice(n, n_merge, replace=False))
        d.merge_texts = texts[n:]
        d.payload_idx = np.sort(rng.choice(n, int(n * ING_PAYLOAD),
                                           replace=False))
        d.del_tenant = int(d.tenant[rng.integers(n)])  # never empty
        # the embedder's bit-identical Python twin gives the truth vectors
        d.vec = np.array(self.emb.embed_local(d.texts))
        d.mvec = np.array(self.emb.embed_local(d.merge_texts))
        d.ids = [_sha256(k) for k in d.keys]
        d.files = []
        for b in range(ING_BATCHES):
            sl = slice(b * batch, (b + 1) * batch)
            f = os.path.join(base, f"batch{b}.parquet")
            pq.write_table(pa.table({
                "key": d.keys[sl], "text": d.texts[sl],
                "tenant": d.tenant[sl],
                "tier": np.zeros(batch, dtype=np.int64)}), f)
            d.files.append(f)
        d.merge_file = os.path.join(base, "merge.parquet")
        pq.write_table(pa.table({
            "key": [d.keys[i] for i in d.merge_idx],
            "text": d.merge_texts,
            "tenant": d.tenant[d.merge_idx],
            "tier": np.ones(n_merge, dtype=np.int64)}), d.merge_file)
        # clean half
        ids, dtexts, d.exact, d.near = gen.dup_corpus(rng, PIPE_DOCS)
        d.docs = os.path.join(base, "docs.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": dtexts}), d.docs)
        cols, d.ev_truth = gen.event_stream(rng, PIPE_EVENTS)
        d.events = os.path.join(base, "events")
        os.makedirs(d.events)
        first = os.path.join(d.events, "part-a.parquet")
        pq.write_table(pa.table(cols), first)
        shutil.copy(first, os.path.join(d.events, "part-b.parquet"))
        d.ev_raw = sum(16 + len(t) for t in cols["event_type"])
        return d

    def _points(self, path: str):
        from pyspark.sql import functions as F

        from image_indexing_and_retrival_with_qdrant_spark.sources.ingest \
            import build_points
        df = self.emb.embed(self.r.spark.read.parquet(path), "text")
        return build_points(df, id_key=F.col("key"), payload={
            "text": F.col("text"), "tenant": F.col("tenant"),
            "tier": F.col("tier")}, source_tag="bench", with_timestamp=False)

    def measure(self) -> None:
        r = self.r
        t0 = time.perf_counter()
        r.mark()
        rounds = r.loop(lambda n: self._round(self.d, str(n)))
        cpu_ms = r.cpu_ms_per_call()
        round_s = (time.perf_counter() - t0) / rounds
        kinds = {k: r.lat.get(k, []) for k in INGEST_KINDS}
        writes = [ms for k in WRITE_KINDS for ms in kinds[k]]
        clean = [ms for k in CLEAN_KINDS for ms in kinds[k]]
        r.out.update(
            cpu_ms_per_call=cpu_ms,
            latency_ms=kind_mean(kinds),
            writes=writes,
            points_per_s=self.points / (sum(writes) / 1000.0) if writes else 0.0,
            recall_after_write=float(np.mean(self.recalls)) if self.recalls else 0.0,
            dup_recall=float(np.mean(self.dup_recalls)) if self.dup_recalls else 0.0,
            docs_per_s=PIPE_DOCS * rounds / (sum(clean) / 1000.0)
            if clean else 0.0,
            events_per_s=2 * PIPE_EVENTS * len(self.drain_ms)
            / (sum(self.drain_ms) / 1000.0) if self.drain_ms else 0.0,
            storage_amp=self.storage_amp,
            checkpoint_amp=self.stream_amp,
            round_s=round_s,
            round_points_per_s=self.points / (round_s * rounds),
            rounds=rounds)

    def _round(self, d, tag: str) -> None:
        self._clean(d, tag)
        self._write_path(d, tag)

    # -- clean half --

    def _clean(self, d, tag: str) -> None:
        from pyspark.sql import functions as F

        from image_indexing_and_retrival_with_qdrant_spark.functions.text \
            import fingerprint, quality_score
        from image_indexing_and_retrival_with_qdrant_spark.operators.dedup \
            import (
                connected_components,
                exact_dedup_groups,
                minhash_band_pairs,
                minhash_signature,
            )
        r, spark = self.r, self.r.spark
        req = r.rec.new_request()
        df = spark.read.parquet(d.docs)
        r.call("functions.text.quality", lambda: df.select(
            "doc_id", quality_score(F.col("text")).alias("quality"),
            fingerprint(F.col("text")).alias("fp"))
            .write.format("noop").mode("overwrite").save(), req)

        def exact_ok(rows):
            got = {x["keeper_id"]: x["n_copies"] for x in rows}
            return None if got == d.exact else \
                f"{len(got)} exact groups found, {len(d.exact)} planted"
        r.call("operators.dedup.exact", lambda: exact_dedup_groups(df)
               .filter("n_copies > 1").collect(), req, exact_ok)
        sig, _ = r.call("operators.dedup.minhash", lambda: minhash_signature(
            df, num_hashes=8).localCheckpoint(), req)
        pairs = None
        if sig is not None:
            pairs, _ = r.call("operators.dedup.band_pairs", lambda: (
                minhash_band_pairs(sig, num_hashes=8, band_size=2)
                .filter(F.col("n_shared_bands") >= MIN_BANDS)
                .localCheckpoint()), req)
        if pairs is not None:
            found = {(x["id_a"], x["id_b"]) for x in pairs.collect()} & d.near
            self.dup_recalls.append(len(found) / len(d.near))

            def same_cluster(rows):
                cl = {x["doc_id"]: x["cluster_id"] for x in rows}
                split = [p for p in found if cl[p[0]] != cl[p[1]]]
                return f"{len(split)} recovered pairs split" if split else None
            r.call("operators.dedup.components", lambda: connected_components(
                pairs).collect(), req, same_cluster)
        self._drain(d, tag, req)

    def _drain(self, d, tag: str, req: int) -> None:
        from image_indexing_and_retrival_with_qdrant_spark.streaming.stateful \
            import streaming_dedup
        r, spark = self.r, self.r.spark
        ckpt = os.path.join(r.work, f"ckpt-{tag}")
        table = f"perfbench_dedup_{tag}"
        schema = spark.read.parquet(d.events).schema
        handle = {}

        def drain():
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(d.events))
            q = (streaming_dedup(stream, key_col="user_id", id_col="event_id")
                 .writeStream.format("memory").queryName(table)
                 .outputMode("append").option("checkpointLocation", ckpt)
                 .start())
            handle["q"] = q
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            return q

        def counts_ok(q):
            counts = {x["event_type"]: x["n"] for x in spark.sql(
                f"SELECT event_type, COUNT(*) AS n FROM {table} GROUP BY 1")
                .collect()}
            spark.catalog.dropTempView(table)
            return None if counts == d.ev_truth else \
                f"per-type counts {counts} != {d.ev_truth}"

        q, sp = r.call("streaming.dedup", drain, req, counts_ok)
        if "q" in handle:
            run_id = str(handle["q"].runId)
            r.stream_groups[sp.id] = [run_id]
            r.rec.count_jobs(sp, run_id)
        if q is None:
            return
        self.drain_ms.append(sp.wall_ms)
        r.out["stream_progress"].append([{
            "input_rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        } for p in q.recentProgress])
        self.stream_amp = tree_bytes(ckpt) / d.ev_raw

    # -- write half --

    def _write_path(self, d, tag: str) -> None:
        from image_indexing_and_retrival_with_qdrant_spark.catalog import (
            create_collection,
        )
        from image_indexing_and_retrival_with_qdrant_spark.filters import (
            FieldCondition,
        )
        r, spark = self.r, self.r.spark
        root = os.path.join(r.work, f"round-{tag}")
        coll, _ = r.call("catalog.write.create", lambda: create_collection(
            root, "docs", dim=ING_DIM,
            indexing_threshold=ING_BATCHES * d.batch,
            hnsw_config={"m": 16, "ef_construct": 64}), timed=False)
        if coll is None:
            return
        # live state: index -> [vector, tenant, tier, text]; the truth
        live: dict[int, list] = {}

        def checks(req: int, probe: int) -> None:
            idx = np.array(sorted(live))
            mat = np.stack([live[i][0] for i in idx])
            sids = np.array([d.ids[i] for i in idx])
            t_ids, _ = gen.cosine_topk(mat, sids, live[probe][0])
            rows, _ = r.call("catalog.read.check", lambda: coll.search(
                spark, live[probe][0].tolist(), k=gen.TOP_K).collect(), req,
                check=lambda rows: None if rows and rows[0]["id"] ==
                d.ids[probe] else "written point is not its own top-1")
            if rows is not None:
                self.recalls.append(_recall([x["id"] for x in rows], t_ids))
            r.call("catalog.read.count", lambda: coll.count(spark), req,
                   check=lambda n: None if n == len(live)
                   else f"count {n} != {len(live)}", timed=False)

        points = 0
        for b, f in enumerate(d.files):
            req = r.rec.new_request()
            _write(r, coll, "catalog.write.upsert",
                   lambda f=f: coll.upsert(spark, self._points(f)), root,
                   d.batch, req)
            for i in range(b * d.batch, (b + 1) * d.batch):
                live[i] = [d.vec[i], int(d.tenant[i]), 0, d.texts[i]]
            points += d.batch
            checks(req, b * d.batch + int(r.rng.integers(d.batch)))

        req = r.rec.new_request()
        _write(r, coll, "catalog.write.merge", lambda: coll.upsert(
            spark, self._points(d.merge_file), mode="merge"), root,
            len(d.merge_idx), req)
        for j, i in enumerate(d.merge_idx):
            live[i] = [d.mvec[j], int(d.tenant[i]), 1, d.merge_texts[j]]
        points += len(d.merge_idx)
        checks(req, int(d.merge_idx[0]))
        sample = [d.ids[i] for i in d.merge_idx[:5]]
        want = {d.ids[i]: d.merge_texts[j] for j, i in
                enumerate(d.merge_idx[:5])}
        r.call("catalog.read.retrieve", lambda: coll.retrieve(
            spark, sample).collect(), req, check=lambda rows: None if {
                x["id"]: x["text"] for x in rows} == want
            else "merged points not retrievable with their new text",
            timed=False)

        req = r.rec.new_request()
        pids = [d.ids[i] for i in d.payload_idx]
        _write(r, coll, "catalog.write.set_payload", lambda: coll.set_payload(
            spark, {"tier": 2}, pids), root, len(pids), req,
            check=lambda n: None if n == len(pids)
            else f"set_payload touched {n} != {len(pids)}")
        for i in d.payload_idx:
            live[i][2] = 2
        r.call("catalog.read.count", lambda: coll.count(
            spark, count_filter=FieldCondition(key="tier", match=2)), req,
            check=lambda n: None if n == len(pids)
            else f"tier=2 count {n} != {len(pids)}", timed=False)

        req = r.rec.new_request()
        gone = [i for i in live if live[i][1] == d.del_tenant]
        _write(r, coll, "catalog.write.delete", lambda: coll.delete(
            spark, FieldCondition(key="tenant", match=d.del_tenant)),
            root, len(gone), req, check=lambda n: None if n == len(gone)
            else f"deleted {n} != {len(gone)}")
        for i in gone:
            del live[i]
        checks(req, min(live))
        r.call("catalog.read.retrieve", lambda: coll.retrieve(
            spark, [d.ids[i] for i in gone[:20]]).collect(), req,
            check=lambda rows: f"{len(rows)} deleted ids still present"
            if rows else None, timed=False)
        self.points += points
        raw = sum(len(d.ids[i]) + ING_DIM * 4 + 16 + len(live[i][3])
                  for i in live)
        self.storage_amp = tree_bytes(root) / raw


def _sha256(key: str) -> str:
    return hashlib.sha256(key.encode()).hexdigest()


WORKLOADS = {"serve": Serve, "ingest": Ingest}
