"""KG-construction benchmark for gliner_spark.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 16 --trace 0

Run from the repository root. Each run is one fresh process with one
``build_session(cores=<nproc>)`` session and a single closed-loop client.
It builds the session, writes the seeded input to parquet (not timed),
runs one warm-up operation (session build plus warm-up is the set-up
time), then repeats the workload's operation until ``--seconds`` of
operation time are measured. Outputs are checked after that. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, runs one untraced and one traced operation on the same
input, and reports the per-layer metrics, including the tracing overhead
(traced minus untraced wall time). See perfbench/NOTES.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"

SPARK_LAYERS = ("sources", "ner", "relations", "linking", "canonicalize",
                "dedup", "curation", "sampling", "sinks")
SPARK_METRICS = (("wall_s", "s"), ("self_s", "s"), ("jobs", "count"),
                 ("tasks", "count"), ("executor_run_s", "s"),
                 ("shuffle_write_bytes", "bytes"),
                 ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("task_skew", "ratio"))
LAYER_METRICS = (
    ("session.build_s", "s"), ("session.worker_warm_s", "s"),
    ("session.pinned_rdds", "count"), ("session.storage_mb", "MB"),
    ("sources.input_rows", "count"), ("sources.input_bytes", "bytes"),
    ("kernels.tokenize_s", "s"), ("kernels.score_s", "s"),
    ("kernels.decode_s", "s"), ("kernels.greedy_s", "s"),
    ("kernels.pair_s", "s"), ("kernels.subword_s", "s"),
    ("kernels.encode_s", "s"), ("kernels.onnx_run_s", "s"),
    ("kernels.words", "count"), ("kernels.spans_decoded", "count"),
    ("kernels.spans_kept", "count"), ("kernels.greedy_keep_ratio", "ratio"),
    ("kernels.pad_useful_ratio", "ratio"),
    ("ner.rows_in", "count"), ("ner.rows_out", "count"),
    ("ner.outside_kernel_frac", "ratio"),
    ("relations.rows_out", "count"),
    ("linking.surfaces_s", "s"), ("linking.lsh_s", "s"),
    ("linking.rows_in", "count"), ("linking.rows_out", "count"),
    ("canonicalize.rows_out", "count"),
    ("plans.wall_s", "s"), ("plans.self_s", "s"), ("plans.jobs", "count"),
    ("dedup.pairs_out", "count"), ("dedup.exchanges", "count"),
    ("curation.gates_s", "s"), ("curation.join_s", "s"),
    ("sinks.bytes_written", "bytes"), ("sinks.files_written", "count"),
    # kg_fold only: merge_kg_batch as a whole, and its checkpoint state
    ("incremental.wall_s", "s"), ("incremental.self_s", "s"),
    ("incremental.jobs", "count"), ("incremental.executor_run_s", "s"),
    ("incremental.shuffle_write_bytes", "bytes"),
    ("checkpoint.manifest_files", "count"), ("checkpoint.bytes", "bytes"),
    ("streaming.latency_growth", "ratio"),
    ("trace.overhead_s", "s"), ("trace.failed_tasks", "count"),
)
PER_LAYER = tuple(
    (f"{layer}.{m}", u) for layer in SPARK_LAYERS for m, u in SPARK_METRICS
) + LAYER_METRICS
WORKLOAD_NAMES = ("kg_batch", "kg_fold", "curate", "ner_onnx")
END_TO_END = (("docs_per_s", "1/s"), ("setup_s", "s"), ("peak_rss_mb", "MB"))


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prepare_env(root: str, work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``."""
    for d in ("tmp", "local", "eventlog", "out"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the JVMs' perf-data files go to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)


def _build(wl, work: str, trace: bool):
    from gliner_spark.session import build_session

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} "
            "-XX:-UsePerfData",
    }
    if trace:
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
    return build_session(app_name=f"perfbench-{wl.name}", cores=CORES,
                         arrow_batch_rows=wl.arrow_batch_rows, extra=extra)


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _storage(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    pinned = jsc.getPersistentRDDs().size()
    mem = sum(i.memSize() for i in jsc.sc().getRDDStorageInfo())
    return pinned, mem / 2 ** 20


def _table(title: str, rows, cols) -> None:
    _log(f"\n== {title}")
    _log("  ".join(f"{c:>14}" if i else f"{c:<30}" for i, c in enumerate(cols)))
    for r in rows:
        _log("  ".join(
            (f"{v:>14.4g}" if isinstance(v, float) else f"{v:>14}") if i
            else f"{v:<30}" for i, v in enumerate(r)))


def run(args, root: str, work: str) -> dict:
    _prepare_env(root, work)
    from tracing import PeakRss
    from workloads import WORKLOADS, dir_bytes_files

    wl = WORKLOADS[args.workload](work, args.seed)
    trace = bool(args.trace)
    rss = PeakRss()
    rss.start()
    spark = None
    try:
        spark = _build(wl, work, trace)
        build_s = time.perf_counter() - T_START
        t0 = time.perf_counter()
        wl.generate(spark)
        gen_s = time.perf_counter() - t0
        warm_s = wl.warm_up(spark)
        _log(f"set-up: session {build_s:.3f} s + warm-up operation "
             f"{warm_s:.3f} s; inputs (not set-up) {gen_s:.3f} s")
        if not trace:
            lat = wl.measure(spark, args.seconds)
        else:
            from tracing import Tracer

            tr = Tracer(f"{wl.name}-{args.seed}", spark.sparkContext)
            untraced_s, traced_s = wl.measure_traced(spark, tr)
            pinned, storage_mb = _storage(spark)
        rss.stop()
        t0 = time.perf_counter()
        failed, problems = wl.verify(spark)
        _log(f"checks: {time.perf_counter() - t0:.3f} s")
        for p in problems:
            _log(f"CHECK FAILED: {p}")
        if trace:
            kern = wl.kernels()
    finally:
        rss.stop()
        if spark is not None:
            _shutdown(spark)
    result = {"correct": not problems and failed == 0,
              "attempted": len(wl.outs), "failed": failed}

    if not trace:
        mem = rss.totals_mb()
        values = {
            "docs_per_s": wl.docs_per_op / statistics.median(lat),
            "setup_s": build_s + warm_s,
            # the JVM's high-water mark follows its garbage collector and
            # does not repeat within a tenth run to run; the workers' does
            "peak_rss_mb": mem["workers_mb"],
        }
        _table(f"{wl.name} seed={args.seed} ops={len(lat)} "
               f"docs/op={wl.docs_per_op} cores={CORES}",
               [(k, float(values[k]), u) for k, u in END_TO_END]
               + [("op_p50_s", statistics.median(lat), "s"),
                  ("op latencies", " ".join(f"{x:.3f}" for x in lat), "s"),
                  ("jvm_hwm_mb", mem["jvm_mb"], "MB"),
                  ("workers_hwm_mb", mem["workers_mb"], "MB"),
                  ("failed_frac", result["failed"] / result["attempted"], "")],
               ("metric", "value", "unit"))
        result["metrics"] = {k: {"value": values[k], "unit": u}
                             for k, u in END_TO_END}
        return result

    from tracing import SPARK_COUNTERS, layer_totals, read_event_logs, self_times, \
        span_counters

    by_group = read_event_logs(os.path.join(work, "eventlog"))
    layers = layer_totals(tr.spans, by_group)
    values = {}
    for layer, t in layers.items():
        for k, v in t.items():
            values[f"{layer}.{k}"] = v
    values.update(wl.counts)
    values.update({k: v for k, v in kern.items() if not k.startswith("_")})
    ner_run = layers.get("ner", {}).get("executor_run_s", 0.0)
    if ner_run and "_kernel_s_per_doc" in kern:
        values["ner.outside_kernel_frac"] = 1.0 - (
            kern["_kernel_s_per_doc"] * wl.counts.get("ner.rows_in", 0) / ner_run)
    values["dedup.exchanges"] = layers.get("dedup", {}).get("shuffle_stages", 0)
    selfs = self_times(tr.spans)
    for s in tr.spans:
        if s.name in ("curation.gates", "curation.join"):
            values[s.name + "_s"] = selfs[s.span_id]
    values["sources.input_bytes"] = dir_bytes_files(wl.src)[0]
    values["sinks.bytes_written"], values["sinks.files_written"] = \
        dir_bytes_files(os.path.join(wl.out, "traced"))
    values.update({
        "session.build_s": build_s, "session.worker_warm_s": warm_s,
        "session.pinned_rdds": pinned, "session.storage_mb": storage_mb,
        "trace.overhead_s": traced_s - untraced_s,
        "trace.failed_tasks": sum(c["failed_tasks"] for c in by_group.values()),
    })

    inc = span_counters(tr.spans, by_group, inclusive=True)
    _table(f"{wl.name} seed={args.seed} spans (Spark counters include "
           "child spans; self_s excludes them)",
           [("  " * _depth(tr.spans, s) + s.name, s.duration, selfs[s.span_id],
             *(inc[s.span_id][k] for k in SPARK_COUNTERS)) for s in tr.spans],
           ("span", "wall_s", "self_s", *SPARK_COUNTERS))
    _table("kernel phase split (per 1k docs) and counts",
           [(k, float(v)) for k, v in sorted(kern.items()) if not k.startswith("_")],
           ("metric", "value"))
    _table("tracing overhead",
           [("untraced_s", untraced_s), ("traced_s", traced_s),
            ("overhead_s", traced_s - untraced_s)], ("run", "seconds"))
    os.makedirs(os.path.dirname(args.spans), exist_ok=True)
    tr.dump(args.spans)
    result["metrics"] = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                         for k, u in PER_LAYER}
    return result


def _depth(spans, s) -> int:
    d = 0
    while s.parent is not None:
        s, d = spans[s.parent], d + 1
    return d


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    args.spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
    os.makedirs(work)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
