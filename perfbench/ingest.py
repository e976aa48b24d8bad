"""``ingest``: CDC waves over a built corpus, with read-your-write probes.

Each wave holds upserts of existing keys, inserts, deletes and about 10%
stale duplicates (older write timestamps, which must lose last-write-wins).
A wave is applied the way a CDC consumer fans out: merge into the snapshot
(``CdcSnapshotSink.process_batch``), read back which events won, then
``ivf_update``, ``hnsw_upsert`` and ``update_fts_index`` plus its write.
Read-your-write probes then go through the engine: the upserted vector must
come back at rank 1, deleted ids must be absent, stale writes invisible. A
wave's latency runs from its submission until its probes pass.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import checks, inputs, stats
from perfbench.common import Result, listing, timed, tree_bytes

BASE_VECS, EMB_FACTOR = 500, 2       # 1,000 items
WAVE = {"upserts": 40, "inserts": 20, "deletes": 10, "stale": 8}
MAX_WAVES = 40
INITIAL_TS = 1_000_000
KS = "ks"
EVENT_SCHEMA = ("id long, embedding array<float>, label int, text string, "
                "ts long, seq long, op string")


def _meta(index: str):
    from vector_store_spark.types import IndexMetadata

    return IndexMetadata(keyspace=KS, index=index, table=f"t_{index}",
                         primary_key_columns=("id",), partition_key_count=1,
                         target_column="embedding", dimensions=inputs.DIMS,
                         filtering_columns=("label",))


class RequestFailed(Exception):
    """A fresh read answered with a non-200 status."""


class Store:
    """Index directories listed before and after each wave."""

    def __init__(self, dirs):
        self.dirs = dirs
        self.before = self._list()
        self.written = self.bytes = self.deleted = 0

    def _list(self) -> dict:
        out = {}
        for d in self.dirs:
            out.update({os.path.join(d, k): v for k, v in listing(d).items()})
        return out

    def wave(self) -> None:
        """Account the files a wave added or rewrote, and those it deleted."""
        after = self._list()
        new = [size for p, (size, mtime) in after.items()
               if self.before.get(p) != (size, mtime)]
        self.written += len(new)
        self.bytes += sum(new)
        self.deleted += len(set(self.before) - set(after))
        self.before = after


def setup(ctx, res: Result):
    from vector_store_spark.engine import FtsEngine, VectorStoreEngine
    from vector_store_spark.httpserver import VectorStoreHttpServer
    from vector_store_spark.operators.bm25 import build_fts_index, write_fts_index
    from vector_store_spark.operators.hnsw import hnsw_build
    from vector_store_spark.operators.ivf import ivf_build
    from vector_store_spark.streaming.cdc import CdcSnapshotSink

    spark = ctx.spark
    t_setup = time.perf_counter()
    corpus, gen_s = timed(inputs.make_corpus, ctx.root, os.path.join(ctx.work, "corpus"),
                          ctx.seed, BASE_VECS, EMB_FACTOR, BASE_VECS, EMB_FACTOR)
    ids = corpus.emb.column("vec_id").to_pylist()
    vecs = corpus.emb.column("embedding").to_pylist()
    labels = corpus.emb.column("label").to_pylist()
    texts = corpus.docs.column("text").to_pylist()
    initial = {k: (v, l, t) for k, v, l, t in zip(ids, vecs, labels, texts)}
    d = {name: os.path.join(ctx.work, name) for name in ("snapshot", "ivf", "hnsw", "fts")}
    sink = CdcSnapshotSink(spark, d["snapshot"], ["id"], ["embedding", "label", "text"],
                           num_buckets=8)
    build = {}
    events = spark.createDataFrame(
        [(k, v, l, t, INITIAL_TS, 0, "upsert") for k, (v, l, t) in initial.items()],
        EVENT_SCHEMA)
    _, build["snapshot"] = timed(sink.process_batch, events, 0)
    live = sink.live_view("embedding").cache()
    _, build["ivf"] = timed(ivf_build, live, "id", "embedding", d["ivf"], k_centroids=16)
    _, build["hnsw"] = timed(hnsw_build, live, "id", "embedding", d["hnsw"], m=8,
                             ef_construction=64, num_slices=4, payload_cols=["label"])
    t = time.perf_counter()
    fts = build_fts_index(live, "id", "text")
    write_fts_index(fts, d["fts"])
    build["fts"] = time.perf_counter() - t
    eng = VectorStoreEngine()
    eng.register(live, _meta("exact"), strategy="exact")
    eng.register(live, _meta("hnsw"), strategy="hnsw",
                 strategy_opts={"path": d["hnsw"], "ef_search": 64})
    eng.register(live, _meta("ivf"), strategy="ivf",
                 strategy_opts={"path": d["ivf"], "nprobe": 4})
    t = time.perf_counter()
    eng.enable_serving_cache(KS, "exact")
    eng.enable_serving_cache(KS, "hnsw")
    build["cache"] = time.perf_counter() - t
    fts_eng = FtsEngine()
    fts_eng.register("items", fts)
    srv = VectorStoreHttpServer(eng, fts_eng)
    res.setup_s = ctx.session_s + time.perf_counter() - t_setup
    res.layers.update({"gen.corpus_s": gen_s, "session.start_s": ctx.session_s,
                       **{f"build.{k}_s": v for k, v in build.items() if k != "snapshot"}})
    res.diagnostics["build_snapshot_s"] = build["snapshot"]
    return initial, d, sink, srv, fts


class Ingest:
    """Applies waves and probes; one instance per run. Reads go through the
    serving facade's request handler (``VectorStoreHttpServer.handle``, in
    process), as a client's would."""

    def __init__(self, ctx, res, initial, dirs, sink, srv, fts):
        self.ctx, self.res, self.dirs = ctx, res, dirs
        self.sink, self.srv, self.fts = sink, srv, fts
        self.eng, self.fts_eng = srv.engine, srv.fts_engine
        self.state = dict(initial)           # replayed live rows, for probes
        self.fresh_ms: list = []
        self.phase_ms = {"cdc.merge": [], "ivf.update": [], "hnsw.upsert": [],
                         "fts.update": []}
        self.rearm_ms: list = []
        self.changed_bytes = 0
        self.changed_rows = 0
        self.tracer = None
        self.live = None
        self.ann_reads = 0
        self.phase_base: dict = {}

    def reset_counters(self) -> None:
        """Start the per-wave figures afresh (after the set-up wave)."""
        from perfbench.serve import phase_sums

        self.fresh_ms, self.rearm_ms = [], []
        self.phase_ms = {k: [] for k in self.phase_ms}
        self.changed_bytes = self.changed_rows = self.ann_reads = 0
        self.phase_base = phase_sums(self.srv)

    def _span(self, name):
        from contextlib import nullcontext

        return self.tracer.tracer.span(name) if self.tracer else nullcontext()

    def _timed(self, name, fn, *args, **kwargs):
        with self._span(name):
            out, sec = timed(fn, *args, **kwargs)
        self.phase_ms[name].append(sec * 1000.0)
        return out

    def apply(self, wave_id: int, wave) -> None:
        from pyspark.sql import functions as F

        from vector_store_spark.operators.bm25 import update_fts_index, write_fts_index
        from vector_store_spark.operators.hnsw import hnsw_upsert
        from vector_store_spark.operators.ivf import ivf_update

        spark = self.ctx.spark
        batch = spark.createDataFrame(wave.events, EVENT_SCHEMA)
        self._timed("cdc.merge", self.sink.process_batch, batch, wave_id)
        # fan-out: which events won, read back from the merged snapshot
        keys = sorted({e[0] for e in wave.events})
        latest = {}
        for e in wave.events:
            latest[e[0]] = max(latest.get(e[0], -1), e[4])
        with self._span("cdc.fanout"):
            rows = (self.sink.read_snapshot().where(F.col("id").isin(keys))
                    .select("id", "embedding", "label", "text", "embedding_writetime")
                    .collect())
        won = [r for r in rows if r["embedding_writetime"] == latest[r["id"]]]
        upserts = [(r["id"], r["embedding"], r["label"], r["text"])
                   for r in won if r["embedding"] is not None]
        removed = [r["id"] for r in won if r["embedding"] is None]
        replaced = [k for k, *_ in upserts if k in self.state]
        added = spark.createDataFrame(upserts, "id long, embedding array<float>, "
                                               "label int, text string")
        self._timed("ivf.update", ivf_update, spark, self.dirs["ivf"], "id", "embedding",
                    items_added=added, ids_removed=removed or None)
        self._timed("hnsw.upsert", hnsw_upsert, spark, self.dirs["hnsw"],
                    items=added.select("id", "embedding", "label"),
                    ids_removed=(removed + replaced) or None)

        def fts_wave():
            fts = update_fts_index(self.fts, docs_added=added.select("id", "text"),
                                   doc_ids_removed=removed or None, id_col="id",
                                   text_col="text")
            write_fts_index(fts, self.dirs["fts"])
            return fts
        self.fts = self._timed("fts.update", fts_wave)
        self.fts_eng.register("items", self.fts)
        live = self.sink.live_view("embedding").cache()
        old_live, self.live = self.live, live
        for ix, strategy, opts in (("exact", "exact", {}),
                                   ("hnsw", "hnsw", {"path": self.dirs["hnsw"],
                                                     "ef_search": 64}),
                                   ("ivf", "ivf", {"path": self.dirs["ivf"], "nprobe": 4})):
            self.eng.register(live, _meta(ix), strategy=strategy, strategy_opts=opts)
        if old_live is not None:
            old_live.unpersist()
        for k in removed:
            self.state.pop(k, None)
        for k, v, l, t in upserts:
            self.state[k] = (v, l, t)
        self.changed_rows += len(upserts) + len(removed)
        self.changed_bytes += sum(8 + 4 * len(v) + 4 + len(t) for _, v, _, t in upserts)
        self.changed_bytes += 8 * len(removed)

    def _post(self, route: str, body: bytes) -> dict:
        with self._span("httpserver.handle"):
            (status, out), sec = timed(self.srv.handle, "POST", route, body)
        self.fresh_ms.append(sec * 1000.0)
        if status != 200:
            raise RequestFailed(f"{route}: HTTP {status} {out}")
        return out

    def read(self, index: str, vector, limit: int = 10) -> dict:
        """One ANN read; the read that re-arms a serving cache is timed as
        the re-arm."""
        cache = self.eng.serving_caches.get(index)
        self.ann_reads += 1
        out = self._post(f"/api/v1/indexes/{KS}/{index}/ann",
                         inputs.ann_body([float(x) for x in vector], limit=limit))
        if cache is not None and self.eng.serving_caches.get(index) is not cache:
            self.rearm_ms.append(self.fresh_ms[-1])
        return out

    def probe(self, wave, rng) -> list:
        """Read-your-write checks after a wave; returns the problems."""
        problems = []
        up = [k for k in wave.upserted + wave.inserted if k in self.state]
        for j, k in enumerate(rng.choice(up, size=min(2, len(up)), replace=False)):
            vec = self.state[int(k)][0]
            # one IVF probe per wave: each is a Spark job chain
            for ix in ("exact", "hnsw", "ivf")[:3 if j == 0 else 2]:
                got = self.read(ix, vec, 1)["primary_keys"]["id"]
                if got != [int(k)]:
                    problems.append(f"ryw {ix}: upserted id {k} not at rank 1 ({got})")
        for k in rng.choice(wave.deleted, size=min(2, len(wave.deleted)), replace=False):
            vec = self.deleted_vecs[int(k)]
            for ix in ("exact", "hnsw"):
                if int(k) in self.read(ix, vec)["primary_keys"]["id"]:
                    problems.append(f"ryw {ix}: deleted id {k} still served")
        for k, vec in self.stale_vecs[:2]:
            resp = self.read("exact", vec, 1)
            if resp["primary_keys"]["id"] == [k] and resp["distances"][0] < 1e-6:
                problems.append(f"ryw exact: stale write of id {k} is visible")
        hit = self._post(f"/api/v1/indexes/{KS}/items/bm25", json.dumps(
            {"query": inputs.bm25_query(rng), "limit": 10}).encode())
        gone = set(wave.deleted) & set(hit["primary_keys"]["doc_id"])
        if gone:
            problems.append(f"ryw bm25: deleted ids {sorted(gone)} still served")
        return problems

    def run_wave(self, wave_id: int, wave, rng) -> float:
        # vectors the probes need from before the wave (deleted rows)
        self.deleted_vecs = {k: self.state[k][0] for k in wave.deleted}
        self.stale_vecs = [(e[0], e[1]) for e in wave.events
                           if e[0] in wave.stale and e[6] == "upsert"]
        t = time.perf_counter()
        self.apply(wave_id, wave)
        try:
            problems = self.probe(wave, rng)
        except RequestFailed as err:
            problems = [str(err)]
        wall = time.perf_counter() - t
        self.res.check(problems)
        return wall


def run(ctx) -> Result:
    res = Result()
    initial, dirs, sink, srv, fts = setup(ctx, res)
    ing = Ingest(ctx, res, initial, dirs, sink, srv, fts)
    waves = inputs.cdc_waves(ctx.seed, list(initial), INITIAL_TS, MAX_WAVES, **WAVE)
    rng = np.random.default_rng([ctx.seed, 30])
    # the first wave is set-up: it pays the first use of every update path
    # and read route, which a long-running CDC consumer pays once
    t = time.perf_counter()
    ing.run_wave(1, waves[0], rng)
    res.setup_s += time.perf_counter() - t
    applied = [waves[0]]
    ing.reset_counters()
    store = Store(list(dirs.values()))
    ot = None
    if ctx.traced:
        from perfbench.trace import OpTracer

        ot = ing.tracer = OpTracer(ctx.spark)
    wave_s = []
    t_end = time.perf_counter() + ctx.seconds
    try:
        for i, w in enumerate(waves[1:], start=2):
            if ot is not None:
                with ot.op("wave", i):
                    wave_s.append(ing.run_wave(i, w, rng))
            else:
                wave_s.append(ing.run_wave(i, w, rng))
            applied.append(w)
            store.wave()
            if time.perf_counter() >= t_end:
                break
    finally:
        if ot is not None:
            ot.close()
    res.op_ms = [s * 1000.0 for s in wave_s]
    final_checks(ctx, res, ing, initial, applied)
    user_bytes = sum(8 + 4 * len(v) + 4 + len(t) for v, _, t in ing.state.values())
    index_dirs = [dirs[k] for k in ("ivf", "hnsw", "fts")]
    res.named.update({
        "ingest_rows_per_s": (ing.changed_rows / sum(wave_s), "rows/s"),
        "wave_p50_s": (stats.median(wave_s), "s"),
        "fresh_read_p50_ms": (stats.median(ing.fresh_ms), "ms"),
        "write_amp": (store.bytes / ing.changed_bytes, "ratio"),
        "space_amp": (sum(tree_bytes(d) for d in index_dirs) / user_bytes, "ratio"),
        "ann_recall_at_10": (stats.mean(res.recall), "ratio"),
    })
    res.diagnostics["wave_s"] = wave_s
    res.diagnostics["wave_phase_ms"] = {k: stats.mean(v) for k, v in ing.phase_ms.items()}
    res.layers.update({f"{k}_ms": stats.mean(v) for k, v in ing.phase_ms.items()})
    res.layers.update({
        "store.files_written": store.written / len(wave_s),
        "store.bytes_written": store.bytes / len(wave_s),
        "store.files_deleted": store.deleted / len(wave_s),
        "store.files_live": float(len(store.before)),
        "engine.rearm_count": len(ing.rearm_ms) / len(wave_s),
        "engine.rearm_ms": stats.mean(ing.rearm_ms) if ing.rearm_ms else 0.0,
        "mem.serving_cache_mb": sum(c.nbytes for c in ing.eng.serving_caches.values())
        / 2 ** 20,
    })
    res.layers.update(read_layers(ing))
    if ot is not None:
        from perfbench.trace import layer_metrics

        res.layers.update(layer_metrics(ot.summary()))
        res.diagnostics["spans"] = ot.tracer.dump()
    return res


def read_layers(ing: Ingest) -> dict:
    """Per-read serving-layer figures of the fresh reads, from the server's
    own phase timers (its /metrics exposition)."""
    from perfbench.serve import phase_sums

    sums = {k: v - ing.phase_base.get(k, 0.0) for k, v in phase_sums(ing.srv).items()}
    n = max(1, ing.ann_reads)
    return {
        "httpserver.server_ms": stats.mean(ing.fresh_ms),
        "api.parse_ms": 1000.0 * sums.get("ann_phase_parse", 0.0) / n,
        "engine.plan_ms": 1000.0 * sums.get("ann_phase_plan", 0.0) / n,
        "engine.execute_ms": 1000.0 * sums.get("ann_phase_execute", 0.0) / n,
        "api.encode_ms": 1000.0 * sums.get("ann_phase_pivot", 0.0) / n,
    }


def final_checks(ctx, res: Result, ing: Ingest, initial, applied) -> None:
    """The snapshot equals a pure-Python LWW replay of the applied waves,
    and the maintained approximate indexes still find the true neighbours."""
    expected = checks.lww_replay(initial, INITIAL_TS, applied)
    rows = {r["id"]: (r["embedding"], r["label"], r["text"])
            for r in ing.sink.live_view("embedding").collect()}
    res.check(checks.check_snapshot(rows, expected))
    keys = np.asarray(sorted(expected))
    vecs = np.asarray([expected[k][0] for k in keys], dtype=np.float64)
    rng = np.random.default_rng([ctx.seed, 31])
    for ix, n in (("hnsw", 60), ("ivf", 4)):
        for _ in range(n):
            q = inputs.query_vector(rng, vecs)
            ref, _ = checks.brute_force_topk(keys, vecs, q, 10)
            got = ing.eng.ann(KS, f"t_{ix}", "embedding", q, limit=10).primary_keys["id"]
            res.recall.append(checks.recall(got, ref))
