"""``pipeline``: passes of the batch LLM-data operators over make_sf-scaled
corpora, as a batch user runs them: the registry query functions in a fixed
order, each result collected. Each pass reads its own corpus, so every
session-memo build (keyed by corpus) is paid inside the first stage of
that pass that needs it. Outside the timed passes, each result is compared
with its registry DuckDB oracle on the same corpus
(tools/check_correctness.py's rule)."""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import checks, inputs
from perfbench.common import Result, timed

BASE_DOCS, DOC_FACTOR = 300, 2       # 600 documents per pass
BASE_VECS, EMB_FACTOR = 250, 2       # 500 vectors per pass
#: one op is one pass; two passes per run halve the pass-to-pass noise
PASSES = 2
#: set-up ends with an untimed warm-up pass over a third corpus of the same
#: size: it pays the session's one-off costs (Python worker start, JIT),
#: which moved a cold first pass by up to 1.5x between runs
STAGES = ("text_quality", "dedup_exact", "dedup_minhash_lsh", "dedup_drop_list",
          "dedup_embedding_lsh", "curation_kept_topk", "mix_pack_sequences",
          "knn_batch")
#: the cosine threshold dedup_embedding_lsh verifies pairs at
NEARDUP_TAU = 0.45


def run(ctx) -> Result:
    from vector_store_spark.registry import all_queries

    res = Result()
    t_setup = time.perf_counter()
    corpora, gen_s = timed(lambda: [
        inputs.make_corpus(ctx.root, os.path.join(ctx.work, f"corpus{k}"),
                           ctx.seed * PASSES + k, BASE_DOCS, DOC_FACTOR,
                           BASE_VECS, EMB_FACTOR)
        for k in range(PASSES)])
    specs = all_queries()
    warm = inputs.make_corpus(ctx.root, os.path.join(ctx.work, "warmup"),
                              ctx.seed * PASSES + PASSES, BASE_DOCS, DOC_FACTOR,
                              BASE_VECS, EMB_FACTOR)
    _, warm_s = timed(lambda: [specs[name].fn(ctx.spark, warm.dir).collect()
                               for name in STAGES])
    res.setup_s = ctx.session_s + time.perf_counter() - t_setup
    res.diagnostics["warmup_s"] = warm_s
    res.layers.update({"gen.corpus_s": gen_s, "session.start_s": ctx.session_s})
    ot = None
    if ctx.traced:
        from perfbench.trace import OpTracer

        ot = OpTracer(ctx.spark)
    passes = []
    try:
        for corpus in corpora:
            results, stage_s = {}, []
            for name in STAGES:
                t = time.perf_counter()
                if ot is not None:
                    with ot.op(name, name):
                        df = specs[name].fn(ctx.spark, corpus.dir)
                        rows = [tuple(r) for r in df.collect()]
                else:
                    df = specs[name].fn(ctx.spark, corpus.dir)
                    rows = [tuple(r) for r in df.collect()]
                stage_s.append(time.perf_counter() - t)
                results[name] = (df.columns, df.dtypes, rows)
            res.op_ms.append(sum(stage_s) * 1000.0)
            passes.append((corpus, results, stage_s))
    finally:
        if ot is not None:
            ot.close()
    n_docs = sum(c.docs.num_rows for c in corpora)
    res.named["pipeline_docs_per_s"] = (n_docs / (sum(res.op_ms) / 1000.0), "docs/s")
    res.diagnostics.update({
        "docs_per_pass": corpora[0].docs.num_rows, "vectors_per_pass": corpora[0].emb.num_rows,
        "stage_s": [dict(zip(STAGES, s)) for _, _, s in passes]})
    for corpus, results, _ in passes:
        check_oracles(ctx, res, specs, corpus, results)
        cols, _, rows = results["dedup_embedding_lsh"]
        a, b = cols.index("id_a"), cols.index("id_b")
        ids = np.asarray(corpus.emb.column("vec_id").to_pylist())
        res.recall.append(checks.pair_recall([(r[a], r[b]) for r in rows],
                                             corpus.vectors, ids, NEARDUP_TAU))
    if ot is not None:
        from perfbench.trace import layer_metrics

        for r in ot.roots:
            span = ot.tracer.spans[r]
            for key, value in ((f"stage.{span['name']}_s", span["end"] - span["start"]),
                               (f"stage.{span['name']}_jobs", float(span.get("jobs", 0)))):
                res.layers[key] = res.layers.get(key, 0.0) + value / PASSES
        res.layers.update(layer_metrics(ot.summary()))
        res.diagnostics["spans"] = ot.tracer.dump()
    return res


#: checked against Python references instead of their DuckDB oracles:
#: dedup_drop_list's memoized closure oracle costs 8-30 s per run here, and
#: dedup_minhash_lsh's SQL signatures 8 s per pass, more than the pass itself
PYTHON_CHECKED = ("dedup_minhash_lsh", "dedup_drop_list")


def check_oracles(ctx, res: Result, specs, corpus, results) -> None:
    """Each stage against its DuckDB oracle (memoized variant where the
    registry provides one, as tools/check_correctness.py does).
    dedup_minhash_lsh is checked against the same pipeline as its oracle
    SQL, run in plain Python (test_perfbench pins the two equal), and
    dedup_drop_list by a union-find over those checked pairs."""
    import duckdb

    from vector_store_spark.functions.hashing import minhash_coeffs
    from vector_store_spark.functions.text import ENGLISH_STOPWORDS
    from vector_store_spark.queries_dedup import _BANDS, _NH, _R
    from vector_store_spark.registry import ROUND

    cc = checks.correctness_module(ctx.root)
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")  # Spark is idle here
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(corpus.dir, t + '.parquet')}'")
    memo: set = set()
    t0 = time.perf_counter()
    try:
        for name in (s for s in STAGES if s not in PYTHON_CHECKED):
            spec = specs[name]
            sql = spec.oracle
            if spec.memo_sql:
                for tname, tsql in spec.memo_setup or []:
                    if tname not in memo:
                        con.execute(f"CREATE TEMP TABLE {tname} AS {tsql}")
                        memo.add(tname)
                sql = spec.memo_sql
            out = con.execute(sql)
            ocols = [d[0] for d in out.description]
            tbl = out.fetch_arrow_table()
            orows = list(zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)]))
            scols, sdtypes, srows = results[name]
            res.check([f"{name}: {p}" for p in checks.compare_with_oracle(
                cc, scols, sdtypes, srows, ocols, tbl.schema, orows)])
    finally:
        con.close()
    res.diagnostics["oracle_s"] = res.diagnostics.get("oracle_s", 0.0) + (
        time.perf_counter() - t0)
    pcols, _, prows = results["dedup_minhash_lsh"]
    got = sorted(tuple(r[pcols.index(c)] for c in ("id_a", "id_b", "jaccard"))
                 for r in prows)
    want = checks.minhash_pairs_reference(
        dict(zip(corpus.docs.column("doc_id").to_pylist(),
                 corpus.docs.column("text").to_pylist())),
        minhash_coeffs(_NH), _BANDS, _R, 0.8, ROUND, set(ENGLISH_STOPWORDS))
    res.check([] if checks.same_pairs(got, want, 1.5 * 10.0 ** -ROUND) else
              [f"dedup_minhash_lsh: {got[:3]} != reference {want[:3]}"])
    pairs = [(a, b) for a, b, _ in got]
    docs = dict(zip(corpus.docs.column("doc_id").to_pylist(),
                    zip(corpus.docs.column("source").to_pylist(),
                        corpus.docs.column("n_chars").to_pylist())))
    scols, _, srows = results["dedup_drop_list"]
    got = sorted(tuple(r[scols.index(c)] for c in ("source", "n_dropped", "chars_dropped"))
                 for r in srows)
    want = sorted(checks.drop_list_reference(pairs, docs))
    res.check([] if got == want else [f"dedup_drop_list: {got[:3]} != reference {want[:3]}"])
