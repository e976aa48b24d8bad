"""``serve``: open-loop HTTP requests against indexes built in set-up.

Three request classes run as three phases, each at a fixed Poisson rate
(about half the class's capacity on this benchmark's reference host):

- ``ann_ram``: exact and HNSW indexes answered from armed serving caches;
  a third of the requests carry a label restriction.
- ``ann_spark``: persisted IVF and LSH, answered through Spark; every other
  request is filtered at 1%, 10% or 50% selectivity.
- ``bm25``: 1-3 term queries drawn Zipf-style over the vocabulary.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import checks, inputs, stats
from perfbench.common import Result, timed, tree_bytes

BASE_VECS, EMB_FACTOR = 1000, 2      # 2,000 vectors
BASE_DOCS, DOC_FACTOR = 1000, 2      # 2,000 documents
#: requests per second, and the share of the run each phase takes
RATES = {"ann_ram": 40.0, "ann_spark": 1.2, "bm25": 2.4}
SHARES = {"ann_ram": 0.1, "ann_spark": 0.5, "bm25": 0.4}
#: requests per class driven one at a time in a traced run
TRACED_OPS = {"ann_ram": 30, "ann_spark": 10, "bm25": 10}
KS = "ks"


def _meta(index: str, table: str):
    from vector_store_spark.types import IndexMetadata

    return IndexMetadata(keyspace=KS, index=index, table=table,
                         primary_key_columns=("vec_id",), partition_key_count=1,
                         target_column="embedding", dimensions=inputs.DIMS,
                         filtering_columns=("label",))


def setup(ctx, res: Result):
    """Corpus, index builds, engines and cache arming; returns the pieces
    the phases need."""
    from vector_store_spark.engine import FtsEngine, VectorStoreEngine
    from vector_store_spark.httpserver import VectorStoreHttpServer
    from vector_store_spark.operators.bm25 import build_fts_index
    from vector_store_spark.operators.hnsw import hnsw_build
    from vector_store_spark.operators.ivf import ivf_build
    from vector_store_spark.operators.lsh import lsh_build

    spark = ctx.spark
    t_setup = time.perf_counter()
    corpus, gen_s = timed(inputs.make_corpus, ctx.root, os.path.join(ctx.work, "corpus"),
                          ctx.seed, BASE_DOCS, DOC_FACTOR, BASE_VECS, EMB_FACTOR)
    idx = os.path.join(ctx.work, "indexes")
    emb = spark.read.parquet(os.path.join(corpus.dir, "embeddings.parquet")).cache()
    docs = spark.read.parquet(os.path.join(corpus.dir, "documents.parquet"))
    build = {}
    _, build["ivf"] = timed(ivf_build, emb, "vec_id", "embedding",
                            os.path.join(idx, "ivf"), k_centroids=32)
    _, build["lsh"] = timed(lsh_build, emb, "vec_id", "embedding",
                            os.path.join(idx, "lsh"), num_bits=16, bands=4)
    _, build["hnsw"] = timed(hnsw_build, emb, "vec_id", "embedding",
                             os.path.join(idx, "hnsw"), m=8, ef_construction=64,
                             num_slices=4, payload_cols=["label"])
    fts, build["fts"] = timed(build_fts_index, docs, "doc_id", "text")
    eng = VectorStoreEngine()
    eng.register(emb, _meta("ram_exact", "t_exact"), strategy="exact")
    eng.register(emb, _meta("ram_hnsw", "t_hnsw"), strategy="hnsw",
                 strategy_opts={"path": os.path.join(idx, "hnsw"), "ef_search": 64})
    eng.register(emb, _meta("spark_ivf", "t_ivf"), strategy="ivf",
                 strategy_opts={"path": os.path.join(idx, "ivf"), "nprobe": 4})
    eng.register(emb, _meta("spark_lsh", "t_lsh"), strategy="lsh",
                 strategy_opts={"path": os.path.join(idx, "lsh")})
    t = time.perf_counter()
    eng.enable_serving_cache(KS, "ram_exact")
    eng.enable_serving_cache(KS, "ram_hnsw")
    build["cache"] = time.perf_counter() - t
    fts_eng = FtsEngine()
    fts_eng.register("docs", fts)
    srv = VectorStoreHttpServer(eng, fts_eng)
    warm_up(srv, corpus.vectors)
    res.setup_s = ctx.session_s + time.perf_counter() - t_setup
    res.layers.update({"gen.corpus_s": gen_s, "session.start_s": ctx.session_s,
                       **{f"build.{k}_s": v for k, v in build.items()}})
    user_bytes = corpus.emb.nbytes + corpus.docs.nbytes
    res.named["space_amp"] = (tree_bytes(idx) / user_bytes, "ratio")
    res.layers["mem.serving_cache_mb"] = sum(
        c.nbytes for c in eng.serving_caches.values()) / 2 ** 20
    return corpus, srv


def warm_up(srv, vecs) -> None:
    """First use of each request shape pays one-off costs (Python workers,
    code generation per plan shape); a long-running server pays them once,
    so set-up sends one request of every shape the phases use."""
    rng = np.random.default_rng(0)
    q = vecs[0].tolist()
    shapes = [("ram_exact", None), ("ram_hnsw", None),
              ("ram_exact", {"==": ["label", 0]}), ("ram_hnsw", {"==": ["label", 0]})]
    shapes += [(ix, None if kind is None else inputs.selectivity_filter(kind, len(vecs), rng))
               for ix in ("spark_ivf", "spark_lsh") for kind in (None, "1%", "10%", "50%")]
    for ix, flt in shapes:
        srv.handle("POST", f"/api/v1/indexes/{KS}/{ix}/ann", inputs.ann_body(q, flt))
    for query in ("spark", "spark join", "spark join table"):
        srv.handle("POST", f"/api/v1/indexes/{KS}/docs/bm25",
                   json.dumps({"query": query, "limit": 10}).encode())


def streams(ctx, vecs, seconds: float) -> dict:
    n = {c: max(1, round(RATES[c] * seconds * SHARES[c])) for c in RATES}
    return {
        "ann_ram": inputs.ann_ram_stream(ctx.seed, vecs, RATES["ann_ram"], n["ann_ram"]),
        "ann_spark": inputs.ann_spark_stream(ctx.seed, vecs, RATES["ann_spark"],
                                             n["ann_spark"]),
        "bm25": inputs.bm25_stream(ctx.seed, RATES["bm25"], n["bm25"]),
    }


class Checker:
    """Reference answers for every request class."""

    def __init__(self, corpus):
        self.ids = np.asarray(corpus.emb.column("vec_id").to_pylist())
        self.labels = np.asarray(corpus.emb.column("label").to_pylist())
        self.vecs = corpus.vectors
        docs = corpus.docs
        self.bm25 = checks.Bm25Reference(dict(zip(
            docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())))

    def check(self, request, status: int, body, res: Result) -> None:
        if status != 200:
            res.check([f"{request.index}: HTTP {status} {str(body)[:200]}"])
            return
        req = json.loads(request.body)
        if request.kind == "bm25":
            ref = self.bm25.scores(req["query"])
            res.check(checks.check_bm25(body["primary_keys"]["doc_id"],
                                        body["scores"], ref, req["limit"]))
            return
        flt = req.get("filter", {}).get("restrictions", [None])[0]
        mask = checks.restriction_mask(flt, self.ids, self.labels)
        ref_ids, ref_d = checks.brute_force_topk(self.ids, self.vecs, req["vector"],
                                                 req["limit"], mask)
        got = body["primary_keys"]["vec_id"]
        if request.index == "ram_exact":
            res.check(checks.check_exact(got, body["distances"], ref_ids, ref_d))
        else:
            # approximate strategies may miss neighbours (that is recall) but
            # never return a row outside the restriction
            res.recall.append(checks.recall(got, ref_ids))
            allowed = set(self.ids[mask].tolist() if mask is not None else self.ids.tolist())
            res.check([f"{request.index}: id {g} violates the restriction"
                       for g in got if g not in allowed][:1])


def run(ctx) -> Result:
    from perfbench.loadgen import post, run_open_loop

    res = Result()
    corpus, srv = setup(ctx, res)
    checker = Checker(corpus)
    host, port = srv.start()
    try:
        plan = streams(ctx, checker.vecs, ctx.seconds)
        late, sent = [], 0
        for cls, reqs in plan.items():
            outs = run_open_loop(
                reqs, lambda r: post(host, port, f"/api/v1/indexes/{KS}/{r.index}/{r.kind}",
                                     r.body), ctx.cpus)
            lat = [o.latency_ms for o in outs]
            res.op_ms.extend(lat)
            late.extend(o.late_ms for o in outs)
            sent += len(outs)
            _named_latency(res, cls, lat)
            for r, o in zip(reqs, outs):
                body = json.loads(o.body) if o.status == 200 else o.body
                checker.check(r, o.status, body, res)
        res.layers["loadgen.late_ms"] = stats.median(late)
        res.layers["loadgen.sent"] = float(sent)
        if ctx.traced:
            traced(ctx, srv, host, port, plan, res)
    finally:
        srv.stop()
    res.named["ann_recall_at_10"] = (stats.mean(res.recall), "ratio")
    return res


def _named_latency(res: Result, cls: str, lat: list) -> None:
    res.named[f"{cls}_p50_ms"] = (stats.median(lat), "ms")
    t = stats.tail(lat)
    if t is not None:
        res.named[f"{cls}_tail_ms"] = (t[1], "ms")
        res.diagnostics[f"{cls}_tail_pct"] = t[0]
    res.diagnostics[f"{cls}_samples"] = len(lat)


# -- traced run -------------------------------------------------------------

def phase_sums(srv) -> dict:
    """Server-side latency sums per route from the /metrics exposition."""
    _, text = srv.handle("GET", "/metrics")
    out = {}
    for line in text.splitlines():
        if line.startswith("vector_store_request_latency_seconds_sum{route=\""):
            route = line.split('route="', 1)[1].split('"', 1)[0]
            out[route] = out.get(route, 0.0) + float(line.rsplit(" ", 1)[1])
    return out


def _untraced(srv, route: str, body: bytes) -> float:
    t = time.perf_counter()
    srv.handle("POST", route, body)
    return time.perf_counter() - t


def traced(ctx, srv, host, port, plan, res: Result) -> None:
    """Each class driven one request at a time through
    VectorStoreHttpServer.handle, traced with spans, Spark reads and py4j
    counts; each request also runs untraced as the overhead baseline."""
    from perfbench.loadgen import post
    from perfbench.trace import OpTracer, layer_metrics

    ops = [r for cls, reqs in plan.items() for r in reqs[:TRACED_OPS[cls]]]
    # transport: loopback client time minus the server's own time
    transport = []
    for r in ops[:10]:
        before = phase_sums(srv)
        t = time.perf_counter()
        post(host, port, f"/api/v1/indexes/{KS}/{r.index}/{r.kind}", r.body)
        wall = time.perf_counter() - t
        after = phase_sums(srv)
        transport.append((wall - (after[r.kind] - before.get(r.kind, 0.0))) * 1000.0)
    ot = OpTracer(ctx.spark)
    tr = ot.tracer
    phases = {k: [] for k in ("parse", "plan", "execute", "pivot")}
    server = []
    scan_rows, returned = 0.0, 0
    base = 0.0
    try:
        for i, r in enumerate(ops):
            cls = "bm25" if r.kind == "bm25" else (
                "ann_ram" if r.index.startswith("ram_") else "ann_spark")
            route = f"/api/v1/indexes/{KS}/{r.index}/{r.kind}"
            # each request also runs untraced, before or after its traced
            # twin in turn, as the overhead baseline
            if i % 2 == 0:
                base += _untraced(srv, route, r.body)
            before = phase_sums(srv)
            with ot.op(cls, i) as op:
                with tr.span("httpserver.handle") as h:
                    status, body = srv.handle("POST", route, r.body)
            after = phase_sums(srv)
            if i % 2 == 1:
                base += _untraced(srv, route, r.body)
            server.append((h["end"] - h["start"]) * 1000.0)
            if r.kind != "ann":
                continue
            # the server's own phase timers, read back from /metrics, split
            # the handle span into its layers
            t = h["start"]
            for name, key in (("api.parse", "parse"), ("engine.plan", "plan"),
                              ("engine.execute", "execute"), ("api.encode", "pivot")):
                d = after.get(f"ann_phase_{key}", 0.0) - before.get(f"ann_phase_{key}", 0.0)
                tr.add(name, t, min(t + d, h["end"]), h["id"])
                phases[key].append(d * 1000.0)
                t += d
            if cls == "ann_spark" and status == 200:
                scan_rows += op.get("scan_rows", 0.0)
                returned += len(body["primary_keys"]["vec_id"])
    finally:
        ot.close()
    s = ot.summary(containers=("httpserver.handle",))
    res.layers.update(layer_metrics(s))
    res.layers.update({
        "httpserver.server_ms": stats.mean(server),
        "httpserver.transport_ms": stats.median(transport),
        "api.parse_ms": stats.mean(phases["parse"]),
        "api.encode_ms": stats.mean(phases["pivot"]),
        "engine.plan_ms": stats.mean(phases["plan"]),
        "engine.execute_ms": stats.mean(phases["execute"]),
        # the cache path reports no execute phase
        "engine.ram_hit_frac": sum(e == 0.0 for e in phases["execute"]) / len(phases["execute"]),
        "scan.rows_per_result": scan_rows / returned if returned else 0.0,
        "trace.overhead_frac": s["wall_ms"] * s["ops"] / (1000.0 * base) - 1.0,
    })
    res.diagnostics["spans"] = tr.dump()
