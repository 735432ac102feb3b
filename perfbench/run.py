"""Benchmark command.

    python3 perfbench/run.py --workload sql_analyst --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one closed-loop client:
each operation starts after the previous one returned. The run

1. stamps the host (CPU calibration on ``nproc`` processes, before and
   after the run) and generates the workload's inputs from ``--seed``;
2. sets up the program from a cold interpreter: the import, the JVM
   launch in ``get_spark`` and the workload's one-time work
   (``setup_s``);
3. runs one cold pass as warm-up (its wall time is kept in the record
   as ``first_pass_s``, not reported as a metric: it did not repeat
   within a tenth between runs), then whole passes until ``--seconds``
   have gone by and at least the workload's ``min_ops`` operations were
   timed;
4. checks every result against an independent oracle, outside the timed
   region.

With ``--trace 0`` the last line of stdout holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics, read from span
recorders around the program's public calls and from Spark's status
stores, and passes alternate between traced and untraced so the
tracing overhead is measured too. Any failed check makes the exit code
nonzero. Working files live under ``.perfbench_work/`` in the checkout
and are removed at exit; traces are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, metrics  # noqa: E402
from perfbench.tracing import STAGE_KEYS  # noqa: E402
from perfbench.workloads import Op, get as get_workload  # noqa: E402

WORKLOADS = ("sql_analyst", "corpus_batch", "stream_ingest")
DRIVER_MEM = "2g"

# end-to-end metric -> unit, in BENCHMARK.json order
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# the issue's per-workload name for items_per_s
ITEM_RATE = {"query": "queries_per_s", "document": "docs_per_s",
             "increment document": "docs_per_s"}

# span name -> per-layer metric (mean inclusive time per call)
SPAN_METRICS = {
    "api.table_sql": "api.table_sql_ms",
    "api.multi_sql": "api.multi_sql_ms",
    "api.to_pandas": "api.to_pandas_ms",
    "sqlprep.rewrite_sql": "sqlprep.rewrite_sql_ms",
    "sqlprep.output_column_names": "sqlprep.output_column_names_ms",
    "functions.ensure_udfs_registered": "functions.ensure_udfs_registered_ms",
    "io.read_parquet": "io.read_parquet_ms",
    "io.append_fingerprints": "io.append_fingerprints_ms",
    "io.compact_fingerprint_store": "io.compact_fingerprint_store_ms",
    "operators.dedup.minhash_verified_dedup": "operators.dedup.minhash_verified_dedup_ms",
    "operators.dedup.dedup_against_store": "operators.dedup.dedup_against_store_ms",
    "operators.pipeline.prepare_corpus": "operators.pipeline.prepare_corpus_ms",
    "operators.text.learn_bpe_merges": "operators.text.learn_bpe_merges_ms",
    "operators.sampling.pack_token_blocks": "operators.sampling.pack_token_blocks_ms",
    "operators.sampling.export_shards": "operators.sampling.export_shards_ms",
    "operators.similarity.blocked_pair_cosine": "operators.similarity.blocked_pair_cosine_ms",
    "operators.similarity.knn_join": "operators.similarity.knn_join_ms",
    "operators.similarity.semantic_dedup": "operators.similarity.semantic_dedup_ms",
    "streaming.drain": "streaming.drain_ms",
}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Size Spark to the host and keep every file it writes inside the
    checkout: temp files, shuffle dirs, the SQL warehouse. The driver JVM
    starts with its whole heap, so that G1 does not resize it by how long
    its collections took, which differed from run to run."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options",
        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "pyspark-shell",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit)


def setup(wl, tracer) -> float:
    """Seconds from a fresh interpreter (vinum_spark not yet imported)
    until the session is ready and the workload's one-time program work
    is done."""
    t0 = time.perf_counter()
    import vinum_spark

    spark = vinum_spark.get_spark()
    if tracer is not None:
        tracer.sc = spark.sparkContext
    wl.setup(spark)
    return time.perf_counter() - t0


def run_op(wl, op: Op, tracer, stats, listener) -> None:
    if op.traced:
        stats.mark()
        tracer.op = op.meta["pass"]
        tracer.active = True
    t0 = time.perf_counter()
    try:
        if op.traced:
            with tracer.span("bench.op", job_group=True):
                op.items, op.result = op.fn()
        else:
            op.items, op.result = op.fn()
    except Exception:
        op.error = traceback.format_exc()
        sys.stderr.write(f"op {op.label} failed:\n{op.error}")
    op.latency_s = time.perf_counter() - t0
    if op.traced:
        tracer.active = False
        if listener is not None:
            listener.settle()
        op.spark = stats.read()
        if listener is not None:
            op.meta["progress"] = listener.take()
        if not op.error:
            wl.observe(op, tracer)


def install_common_tracing(tracer) -> None:
    import vinum_spark

    tracer.wrap(vinum_spark, "get_spark", "session.get_spark", job_group=False)
    tracer.wrap(vinum_spark, "read_parquet", "io.read_parquet")


def span_summary(tracer):
    """Per span name: calls, mean inclusive ms, mean self ms, and the
    Spark task time of the jobs run under its job group."""
    selfs = metrics.self_times(tracer.spans)
    out = {}
    for s in tracer.spans:
        r = out.setdefault(s["name"], {"calls": 0, "incl_ms": 0.0, "self_ms": 0.0})
        r["calls"] += 1
        r["incl_ms"] += (s["end"] - s["start"]) * 1e3
        r["self_ms"] += selfs[s["id"]] * 1e3
    for r in out.values():
        r["incl_ms"] /= r["calls"]
        r["self_ms"] /= r["calls"]
    return out


def layer_metrics(wl, ops, tracer, cores: int):
    traced = [o for o in ops if o.traced and not o.error]
    summary = span_summary(tracer)
    values = {name: 0.0 for name, _ in per_layer_names()}
    for span, key in SPAN_METRICS.items():
        if span in summary:
            values[key] = summary[span]["incl_ms"]
    gets = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.get_spark"]
    if gets:  # the first call launches the JVM; later calls find the session
        values["session.get_spark_s"] = gets[0]
    if traced:
        n = len(traced)
        for key in STAGE_KEYS:
            values[f"spark.{key}"] = sum(o.spark[key] for o in traced) / n
        values["spark.task_skew"] = max(o.spark["task_skew"] for o in traced)
        values["spark.idle_core_ms"] = sum(
            o.latency_s * 1e3 * cores - o.spark["task_run_ms"] for o in traced
        ) / n
    values.update(wl.layer_metrics(traced, tracer))
    # tracing overhead: traced minus untraced passes, per operation
    by_pass = {}
    for o in ops:
        if o.meta.get("pass", 0) > 0 and not o.error:
            by_pass.setdefault((o.meta["pass"], o.traced), []).append(o.latency_s)
    t = [sum(v) / len(v) for (p, tr), v in by_pass.items() if tr]
    u = [sum(v) / len(v) for (p, tr), v in by_pass.items() if not tr]
    if t and u:
        values["trace.overhead_ms"] = (statistics.mean(t) - statistics.mean(u)) * 1e3
    # spark task time per span name, through the job groups
    names = tracer.group_names()
    task_by_span = {}
    for o in traced:
        for g, ms in o.spark["by_group_task_ms"].items():
            label = names.get(g, "streaming micro-batch" if g else "no job group")
            task_by_span[label] = task_by_span.get(label, 0.0) + ms / len(traced)
    for name, r in summary.items():
        r["task_ms_per_op"] = task_by_span.pop(name, 0.0)
    for label, ms in task_by_span.items():
        summary[label] = {"calls": 0, "incl_ms": 0.0, "self_ms": 0.0, "task_ms_per_op": ms}
    return values, summary


def stop_processes() -> None:
    """Stop the session and the JVM, and wait until every process started
    under this one, the JVM's Python workers included, has ended."""
    started = host.descendants(os.getpid())
    if "pyspark" in sys.modules:
        import vinum_spark
        from pyspark import SparkContext

        vinum_spark.stop_spark()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while any(host.alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(host.alive, started):
        sys.stderr.write(f"killing leftover process {pid}\n")
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in host.children(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vinum_spark", "__init__.py")):
        sys.stderr.write(f"no vinum_spark package under {ROOT}\n")
        return 2
    wl = get_workload(args.workload)
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    cores = host.nproc()
    phases = {}
    clock = [time.perf_counter()]

    def lap(name):
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    try:
        configure_env(work)
        calib_before = host.calibrate(cores)
        lap("calibrate")
        wl.generate(args.seed, os.path.join(work, "inputs"))
        lap("generate")

        tracer = stats = listener = None
        if args.trace:
            import vinum_spark  # noqa: F401  (wrappers need the modules)
            from perfbench.tracing import Tracer

            tracer = Tracer(f"{wl.name}-{args.seed}")
            install_common_tracing(tracer)
            wl.install_tracing(tracer)
            wl.tracer = tracer
            tracer.active = True
        setup_s = setup(wl, tracer)
        if tracer is not None:
            tracer.active = False
        import vinum_spark

        spark = vinum_spark.get_spark()
        sc = spark.sparkContext
        session = {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "jvm_heap_args": [
                a for a in spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments() if a.startswith("-Xm")
            ],
            "spark": spark.version,
        }
        if args.trace:
            from perfbench.tracing import SparkStats, StreamListener

            stats = SparkStats(spark)
            if wl.streams:
                listener = StreamListener(spark)
        sampler = host.RssSampler(host.find_jvm(os.getpid())).start()
        lap("setup")

        ops = []
        t0 = time.perf_counter()
        for op in wl.pass_ops(0):
            run_op(wl, op, tracer, stats, listener)
            ops.append(op)
        first_pass_s = time.perf_counter() - t0
        first_ops = len(ops)
        lap("first_pass")

        start = time.perf_counter()
        index = 1
        while True:
            done = (time.perf_counter() - start >= args.seconds
                    and len(ops) - first_ops >= wl.min_ops)
            if done and (not args.trace or index > 2):
                break
            traced = bool(args.trace) and index % 2 == 1
            pass_ops = wl.pass_ops(index)
            if not pass_ops:  # the workload's inputs are used up
                break
            for op in pass_ops:
                op.traced = traced
                op.meta["pass"] = index
                run_op(wl, op, tracer, stats, listener)
                ops.append(op)
            index += 1
        sampler.stop()
        rss_parts = sampler.peak_rss_parts()
        peak_rss = sum(rss_parts.values())
        lap("window")

        fails = wl.check(ops)
        lap("check")
        calib_after = host.calibrate(cores)
        lap("calibrate_after")
    finally:
        try:
            stop_processes()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run's tree is still there
                pass
    lap("stop")

    failed_ops = {i for i, _ in fails} | {i for i, o in enumerate(ops) if o.error}
    for i, msg in fails:
        sys.stderr.write(f"check failed: {ops[i].label}: {msg}\n")
    steady = [o for o in ops if o.meta.get("pass", 0) > 0 and not o.error]
    lat = [o.latency_s * 1e3 for o in steady]
    tail_pct, tail_ms, beyond = metrics.tail(lat) if lat else (100.0, 0.0, 0)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "latency_tail_ms": tail_ms,
        "items_per_s": metrics.median_pass_rate(
            (o.meta["pass"], o.items, o.latency_s) for o in steady) if steady else 0.0,
        "peak_rss_mb": peak_rss / 1e6,
    }
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": cores,
            "mem_total_bytes": host.mem_total_bytes(),
            "python": platform.python_version(),
            **session,
            "calibration_before": calib_before,
            "calibration_after": calib_after,
            "host_degraded": host.host_degraded(calib_before, calib_after),
        },
        "inputs": {k: v for k, v in wl.props.items() if not k.startswith("_")},
        "peak_rss_parts_mb": {k: v / 1e6 for k, v in rss_parts.items()},
        "ops": len(ops),
        "steady_ops": len(steady),
        "phases_s": phases,
        "first_pass_s": first_pass_s,
        "ops_ms": [[o.meta.get("pass", 0), o.label, o.latency_s * 1e3] for o in ops],
        "latency_tail": {"percentile": tail_pct, "samples": len(lat), "beyond": beyond},
        ITEM_RATE[wl.item]: e2e["items_per_s"],
        "error_rate": len(failed_ops) / len(ops),
    }
    if args.trace:
        values, summary = layer_metrics(wl, ops, tracer, cores)
        record["spans"] = summary
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"record": record, "spans": tracer.spans}, f)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
        result = {k: {"value": v, "unit": u} for (k, u) in per_layer_names()
                  for v in [values[k]]}
    else:
        result = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print("RECORD " + json.dumps(record, default=float))
    for name, r in (record.get("spans") or {}).items():
        print(f"SPAN {name:44s} calls={r['calls']:4d} incl_ms={r['incl_ms']:10.2f} "
              f"self_ms={r['self_ms']:10.2f} task_ms_per_op={r['task_ms_per_op']:10.1f}")
    for k, v in result.items():
        note = ""
        if k == "latency_tail_ms":
            note = f" (p{tail_pct:.1f} of {len(lat)} samples, {beyond} beyond)"
        print(f"METRIC {k} {v['value']} {v['unit']}{note}")
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "metrics": result,
    }), flush=True)
    return 1 if failed_ops else 0


if __name__ == "__main__":
    sys.exit(main())
