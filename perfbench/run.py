#!/usr/bin/env python3
"""Benchmark of the nursing-home analytics engine, end to end and by layer.

Usage, from the repository root::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Workloads (``workloads.py``; why each was chosen is in BENCHMARK.json,
what was left out and why in NOTES.md):

- ``dashboard``: every dashboard page, each issuing the catalog and
  dashboard reads its caller issues, over tables that set-up builds
  from a seeded CMS-style CSV drop with the etl pipelines
  (``run_build``, ``run_staffing_metrics``, ``profile_directory``);
- ``corpus``: the ``cli corpus-build`` stages plus an IVF kNN top-k on
  one seeded shard per operation; its traced set-up also runs the
  streaming dedup ingest over a fresh minhash index.

One Python process runs one closed-loop client (the next operation
starts when the previous one returns) against ``local[n]`` Spark, with
``n`` half the host's cores. Set-up is timed from process start: the
session, input generation, the state build, and a fixed number of
untimed warm-up operations. The timed phase then runs a fixed number
of operations, ``--seconds`` worth at the workload's nominal speed,
and checks each result against facts the generator planted.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same operations both untraced and traced, prints per-layer metrics, the
self time of every span and the tracing overhead, and writes the spans
to ``.perfbench/traces/``. Every run's scratch (warehouse, Spark local
and checkpoint dirs, inputs) lives in ``.perfbench/run-<pid>/`` and is
deleted at exit. The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from workloads import STREAM_PROGRESS, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "bytes_per_input_byte": "ratio",
}

#: per-layer metrics: ``<span name>.<s|construct_s|execute_s|counter>``;
#: a layer a workload does not call reads 0 on it
PER_LAYER = (
    ["session.build_session.s"]
    + [
        f"pipelines.{fn}.{m}"
        for fn in ("run_build", "run_staffing_metrics", "profile_directory")
        for m in ("s", "jobs", "shuffle_read_bytes", "output_bytes")
    ]
    + ["query_layer.distinct_values.s", "query_layer.distinct_values.jobs"]
    + [
        f"query_layer.{fn}.{m}"
        for fn in ("filter_metrics", "group_mean", "quarter_facility_pivot",
                   "numeric_means", "preview")
        for m in ("construct_s", "execute_s", "jobs")
    ]
    + ["catalog.list_tables.s", "catalog.table_preview.s"]
    + [f"dashboard.{fn}.{m}" for fn in ("metrics_payload", "overview_payload")
       for m in ("s", "jobs")]
    + ["dashboard.render_html.s", "sources.load_tables.construct_s"]
    + [f"functions.text.quality_filter.{m}" for m in ("construct_s", "execute_s", "jobs")]
    + [
        f"operators.dedup.{fn}.{m}"
        for fn in ("exact_dedup_fingerprints", "jaccard_pair_join")
        for m in ("construct_s", "execute_s", "jobs", "shuffle_read_bytes")
    ]
    + [f"operators.dedup.connected_components.{m}" for m in ("s", "jobs", "shuffle_read_bytes")]
    + [f"operators.corpus.decontaminate.{m}" for m in ("construct_s", "execute_s", "jobs")]
    + [f"operators.similarity.fixed_ivf_seeds.{m}" for m in ("s", "jobs")]
    + [f"operators.clustering.lloyd_train.{m}" for m in ("s", "jobs")]
    + [f"operators.similarity.knn_ivf_fixed.{m}" for m in ("construct_s", "execute_s", "jobs")]
    + ["corpus.write_parquet.s", "corpus.write_parquet.output_bytes"]
    + ["operators.dedup_index.write_dedup_index.s", "streaming.batch.s", "streaming.batch.jobs"]
    + [f"streaming.progress.{key}_ms" for key in STREAM_PROGRESS]
    + ["streaming.compaction_batch_s", "streaming.plain_batch_s",
       "operators.dedup_index.files", "operators.dedup_index.bytes",
       "streaming.commitlog.markers"]
    + [f"op.{m}" for m in ("s", "jobs", "tasks", "shuffle_write_bytes", "spill_bytes")]
    + ["jvm.gc_s", "jvm.gc_count"]
)


def unit_of(metric: str) -> str:
    if metric in END_TO_END:
        return END_TO_END[metric]
    if metric.endswith(("_bytes", ".bytes")):
        return "bytes"
    if metric.endswith((".s", "_s")):
        return "s"
    if metric.endswith("_ms"):
        return "ms"
    return "count"


# --------------------------------------------------------------------------
# host facts


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def session_shape() -> tuple[int, str]:
    """``local[n]`` with n = half the usable cores, the rest left to the
    driver JVM's compiler and GC threads and the Python client; a driver
    heap of 1/16 of host RAM, between 1 and 4 GiB."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return cpus, f"{max(1, min(4, total_kb // (16 << 20)))}g"


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return int(next(line for line in f if line.startswith("VmHWM")).split()[1])


def gc_totals(spark) -> tuple[float, int]:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return (
        sum(b.getCollectionTime() for b in beans) / 1000.0,
        sum(b.getCollectionCount() for b in beans),
    )


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (p100) when there are fewer than 11."""
    s = sorted(times)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# --------------------------------------------------------------------------
# the run


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(run_dir: str):
    from nursinghome_data_pipeline_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    # everything the JVM and PySpark write goes under run_dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    t0 = time.perf_counter()
    spark = build_session(
        "perfbench",
        extra={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "checkpoints"))
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_ops(wl, indices, *, bytes_out: list | None, failures: list) -> list[float]:
    """Time ``wl.op(i)`` for each index; check each result untimed."""
    times = []
    for i in indices:
        wl.tr.op_id = i
        since_ns = time.time_ns()
        try:
            with wl.tr.span("op"):
                t0 = time.perf_counter()
                result = wl.op(i)
                times.append(time.perf_counter() - t0)
            if bytes_out is not None:
                bytes_out.append(wl.op_bytes(i, since_ns))
            wl.check(i, result)
        except Exception:
            failures.append(i)
            print(f"perfbench: operation {i} failed", file=sys.stderr)
            traceback.print_exc()
    wl.tr.op_id = None
    return times


def layer_metrics(tracer, session_s: float, gc: tuple[float, int],
                  extra: dict[str, float]) -> dict[str, float]:
    calls: dict[str, int] = {}
    sums: dict[str, float] = {}
    inclusive = tracer.inclusive()
    for sp in tracer.spans:
        dur = sp.end - sp.start
        if sp.phase != "execute":
            calls[sp.name] = calls.get(sp.name, 0) + 1
        for key, v in [("s", dur), (f"{sp.phase}_s", dur), *inclusive[sp.span_id].items()]:
            k = f"{sp.name}.{key}"
            sums[k] = sums.get(k, 0) + v
    out = {}
    for m in PER_LAYER:
        name = m.rsplit(".", 1)[0]
        out[m] = sums.get(m, 0) / calls[name] if calls.get(name) else 0
    out["session.build_session.s"] = session_s
    out["jvm.gc_s"], out["jvm.gc_count"] = gc
    out.update(extra)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        import nursinghome_data_pipeline_spark  # noqa: F401
        from bench import _cpu_calibration
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2
    from spans import Tracer

    cpus, driver_mem = session_shape()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    meta = {"workload": args.workload, "seed": args.seed, "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": driver_mem, "loadavg_start": os.getloadavg()}
    steal0 = cpu_times()

    run_dir = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        spark, session_s = start_session(run_dir)
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, run_dir)

        t0 = time.perf_counter()
        inputs = wl.generate(args.seed, os.path.join(run_dir, "inputs"))
        generate_s = time.perf_counter() - t0
        # the traced run also traces set-up, where the layers no timed
        # phase calls run: the etl pipelines that build the dashboard's
        # catalog, and the corpus's index build and ingest stream
        tracer.enabled = bool(args.trace)
        wl.prepare(inputs)
        tracer.enabled = False
        prepare_s = time.perf_counter() - t0 - generate_s
        failures: list[int] = []
        t0 = time.perf_counter()
        warm = run_ops(wl, range(wl.warmup_ops), bytes_out=None, failures=failures)
        warmup_s = time.perf_counter() - t0
        setup_s = process_age_s()
        meta.update(session_s=session_s, generate_s=generate_s, prepare_s=prepare_s,
                    warmup_s=warmup_s, warmup_curve_s=warm)
        if failures:
            raise RuntimeError(f"warm-up operations failed: {failures}")

        n = wl.ops_for(args.seconds)
        indices = range(wl.warmup_ops, wl.warmup_ops + n)
        op_bytes: list[float] = []
        traced: list[float] = []
        gc0 = gc_totals(spark)
        if args.trace:
            # the same units run untraced and traced, alternating which
            # goes first, so warm-up drift does not bias the overhead
            times = []
            for u, start in enumerate(range(indices.start, indices.stop, wl.unit_ops)):
                unit = range(start, start + wl.unit_ops)
                for on in ((False, True) if u % 2 == 0 else (True, False)):
                    tracer.enabled = on
                    (traced if on else times).extend(
                        run_ops(wl, unit, bytes_out=None, failures=failures))
            tracer.enabled = False
            attempted = 2 * n
        else:
            times = run_ops(wl, indices, bytes_out=op_bytes, failures=failures)
            attempted = n
        gc1 = gc_totals(spark)
        rss_kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
                  vm_hwm_kb(spark._jvm.java.lang.ProcessHandle.current().pid()))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # other runs' dirs or traces are still there

    meta.update(calibration=_cpu_calibration(), steal=steal_fraction(steal0, cpu_times()),
                loadavg_end=os.getloadavg(), ops=n, op_times_s=times,
                peak_rss_kb_python_jvm=rss_kb, gc_s=gc1[0] - gc0[0], gc_count=gc1[1] - gc0[1])
    if not times or (args.trace and not traced):
        print(f"perfbench: all {attempted} timed operations failed", file=sys.stderr)
        return 1
    wall_s = statistics.fmean(times) * wl.unit_ops
    tail_s, tail_pct = tail(times)
    meta.update(op_tail_percentile=tail_pct, op_tail_samples=len(times))
    print("meta " + json.dumps(meta))
    print(f"fail_ratio {len(failures) / attempted:.4f} ratio "
          f"({len(failures)} of {attempted} operations)")
    if args.trace:
        traced_wall = statistics.fmean(traced) * wl.unit_ops
        metrics = layer_metrics(tracer, session_s, (gc1[0] - gc0[0], gc1[1] - gc0[1]),
                                wl.extra_layers)
        print(f"{'span':<48} {'phase':<9} {'calls':>5} {'total_s':>9} {'self_s':>9}")
        for (name, phase), (c, total, own) in sorted(tracer.self_times().items()):
            print(f"{name:<48} {phase:<9} {c:>5} {total:>9.3f} {own:>9.3f}")
        print(f"tracing overhead {traced_wall - wall_s:+.4f} s per unit "
              f"(traced wall_s {traced_wall:.4f}, untraced {wall_s:.4f})")
        trace_dir = os.path.join(os.getcwd(), ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "op_p50_s": statistics.median(times),
            "op_tail_s": tail_s,
            "peak_rss_mb": sum(rss_kb) / 1024.0,
            "bytes_per_input_byte": statistics.fmean(op_bytes) if op_bytes else 0.0,
        }
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {unit_of(k)}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
