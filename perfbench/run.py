#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,ingest,pipeline} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``;
indexes, Spark local dirs and the corpus live in a per-run scratch
directory under the checkout that is removed at exit. The last stdout line
is the result record; the line before it holds diagnostics (the
workload's named metrics, host-noise probes). ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones and writes the spans to
``.perfbench_out/``. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("serve", "ingest", "pipeline")

#: (name, unit, better) — every workload reports every one of these
END_TO_END = (
    ("op_p50_ms", "ms", "lower"),
    ("op_gmean_ms", "ms", "lower"),
    ("ann_recall", "ratio", "higher"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

PIPELINE_STAGES = ("text_quality", "dedup_exact", "dedup_minhash_lsh",
                   "dedup_drop_list", "dedup_embedding_lsh", "curation_kept_topk",
                   "mix_pack_sequences", "knn_batch")

PER_LAYER = (
    ("httpserver.server_ms", "ms", "lower"),
    ("httpserver.transport_ms", "ms", "lower"),
    ("api.parse_ms", "ms", "lower"),
    ("api.encode_ms", "ms", "lower"),
    ("engine.plan_ms", "ms", "lower"),
    ("engine.execute_ms", "ms", "lower"),
    ("engine.ram_hit_frac", "ratio", "higher"),
    ("engine.rearm_count", "count", "lower"),
    ("engine.rearm_ms", "ms", "lower"),
    ("driver.py4j_calls", "count", "lower"),
    ("driver.py4j_ms", "ms", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.job_ms", "ms", "lower"),
    ("spark.gap_ms", "ms", "lower"),
    ("exec.run_ms", "ms", "lower"),
    ("exec.cpu_ms", "ms", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("python.udf_ms", "ms", "lower"),
    ("python.bytes_out", "bytes", "lower"),
    ("python.bytes_in", "bytes", "lower"),
    ("scan.rows_per_result", "ratio", "lower"),
    ("build.ivf_s", "s", "lower"),
    ("build.hnsw_s", "s", "lower"),
    ("build.lsh_s", "s", "lower"),
    ("build.fts_s", "s", "lower"),
    ("build.cache_s", "s", "lower"),
    ("gen.corpus_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("cdc.merge_ms", "ms", "lower"),
    ("ivf.update_ms", "ms", "lower"),
    ("hnsw.upsert_ms", "ms", "lower"),
    ("fts.update_ms", "ms", "lower"),
    ("store.files_written", "count", "lower"),
    ("store.bytes_written", "bytes", "lower"),
    ("store.files_deleted", "count", "lower"),
    ("store.files_live", "count", "lower"),
    *((f"stage.{q}_s", "s", "lower") for q in PIPELINE_STAGES),
    *((f"stage.{q}_jobs", "count", "lower") for q in PIPELINE_STAGES),
    ("mem.driver_mb", "MB", "lower"),
    ("mem.jvm_mb", "MB", "lower"),
    ("mem.serving_cache_mb", "MB", "lower"),
    ("loadgen.late_ms", "ms", "lower"),
    ("loadgen.sent", "count", "higher"),
    ("trace.unattributed_frac", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
)


def cpu_probe_ms() -> float:
    """Fixed single-thread work (recorded as host-noise diagnostics only;
    the benchmark neither gates on it nor waits)."""
    blob = b"\x5a" * 1_000_000
    t = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(40):
        h.update(blob)
    return (time.perf_counter() - t) * 1000.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def spark_threads(workload: str, nproc: int) -> int:
    """Spark's task threads. The driver process, the JVM's own threads and
    the Python workers need cores too: at local[nproc] the ingest wave was
    1.3x slower and spread more between runs. Ingest waves are chains of
    small jobs, bound by scheduling, and spread least on one task thread
    (five seeds: 0.10 of the median against 0.16-0.23 on two); pipeline
    stages run executor work and spread least on half the cores (0.10
    against 0.21 on one)."""
    return 1 if workload == "ingest" else max(1, nproc // 2)


def start_spark(work: str, cpus: int):
    """Session through the library's own factory. The Python workers run
    this interpreter with the package on their path, the driver binds to
    loopback, and every file Spark, the JVM or Python writes goes under the
    run's scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JDK_JAVA_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JDK_JAVA_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    from vector_store_spark.session import get_spark

    spark = get_spark("perfbench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (closing its stdin ends the
    gateway) and wait for it and for the Python workers it started."""
    proc = spark.sparkContext._gateway.proc
    workers = descendants(proc.pid)
    stopper = threading.Thread(target=spark.stop, daemon=True)
    stopper.start()
    stopper.join(60)
    workers += descendants(proc.pid)
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in set(workers):
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                continue
            while alive(pid):
                time.sleep(0.05)


def end_to_end(res, ctx) -> dict:
    from perfbench import stats
    from perfbench.common import peak_rss_mb

    driver, jvm = peak_rss_mb(ctx.spark)
    res.layers["mem.driver_mb"], res.layers["mem.jvm_mb"] = driver, jvm
    return {
        "op_p50_ms": stats.median(res.op_ms),
        "op_gmean_ms": stats.gmean(res.op_ms),
        "ann_recall": stats.mean(res.recall),
        "setup_s": res.setup_s,
        "peak_rss_mb": driver + jvm,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "vector_store_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "make_sf.py"))):
        print(f"perfbench: {ROOT} is not a vector_store_spark checkout "
              "(needs vector_store_spark/ and tools/make_sf.py)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import ingest, pipeline, serve
    from perfbench.common import Context

    cpus = spark_threads(args.workload, len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_run"))
    os.chdir(work)  # Spark's warehouse and catalog files land here too
    probe_start = cpu_probe_ms()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, cpus)
        # the generators take non-negative seeds; any integer is accepted
        ctx = Context(spark=spark, root=ROOT, work=work, seed=args.seed % 2 ** 64,
                      seconds=args.seconds, traced=bool(args.trace), cpus=cpus,
                      session_s=time.perf_counter() - t)
        module = {"serve": serve, "ingest": ingest, "pipeline": pipeline}[args.workload]
        res = module.run(ctx)
        e2e = end_to_end(res, ctx)
        diagnostics = {
            "workload": args.workload, "seed": args.seed,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in res.named.items()},
            "ops_failed_frac": res.failed / max(1, res.attempted),
            "problems": res.problems,
            "host": {"cpu_probe_start_ms": probe_start, "cpu_probe_end_ms": cpu_probe_ms(),
                     "loadgen_late_ms": res.layers.get("loadgen.late_ms")},
            "wall_s": time.perf_counter() - T_START,
            **{k: v for k, v in res.diagnostics.items() if k != "spans"},
        }
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": res.diagnostics.get("spans", []),
                           "layers": res.layers}, f)
            metrics = {n: {"value": float(res.layers.get(n, 0.0)), "unit": u}
                       for n, u, _ in PER_LAYER}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u, _ in END_TO_END}
        print(json.dumps({"diagnostics": diagnostics}))
        print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                          "failed": res.failed, "metrics": metrics}))
        sys.stdout.flush()
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # never let interpreter teardown outlive the record (see bench.py)
    os._exit(rc)
