"""fsql_spark benchmark: seeded closed-loop workloads on local Spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload scan_query --seed 1 --seconds 10 --trace 0

Without ``--workload`` it runs every workload in turn, each in its own
process (defaults: seed 1, 5 seconds, untraced), and ends with one JSON
line over all of them.

One process runs one workload with one closed-loop client on
``local[N]`` (N = min(the workload's ``cores``, usable CPUs)):

1. builds the workload's inputs from ``--seed`` (untimed);
2. sets up three times — start a Spark session through
   ``fsql_spark.get_spark`` (the first start launches the JVM; the later
   ones restart the session in it) and open the workload's table at a fresh
   path — and reports the median CPU time as ``setup_s``;
3. warms up (untimed), then runs whole cycles of operations until they
   have taken ``--seconds`` seconds in all, checking every answer;
4. prints every metric by name and unit, then, as the last line of stdout,
   one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

The end-to-end metrics are CPU times: the CPU seconds that this process,
the Spark JVM and its Python workers spend together in one set-up or one
operation. On a shared host whose other tenants took up to a fifth of the
CPU time, the wall-clock latency of the same operation doubled while its
CPU time grew by 15-30% (the time the host takes is not counted), so only
CPU times stay within a regression bound from run to run.

``--trace 0`` reports the end-to-end metrics, and prints the wall-clock
figures (``op_p50_s``, ``op_tail_s``, ``ops_per_s``, ...) and those of the
workload's own operation kinds (``query_fast_p50_s``, ``readback_s``, ...)
above the JSON line. ``--trace 1`` traces every other operation of each
kind, over at least two cycles (see ``tracing.py``), and reports the
per-layer metrics, including the tracing overhead: the traced minus the
untraced median latency of the same operation kind; the wall-clock figures
there come from its untraced operations only. Its spans are
written to ``.perfbench_out/`` in the checkout.

Exits non-zero, printing no result, when the checkout holds no
``fsql_spark`` package or set-up fails.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import subprocess
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
WORKLOAD_NAMES = ("scan_query", "corpus_dedup")
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)

#: name -> unit; printed with --trace 0, the last JSON line carries them all
END_TO_END = {
    "setup_s": "s",  # CPU time of one set-up, median of SETUP_REPS
    "op_cpu_p50_s": "s",  # CPU time of one operation, median
    "op_cpu_mean_s": "s",  # CPU time of all operations / their count
    "peak_rss_mb": "MB",
}
#: wall-clock figures of the same set-ups and operations; printed with
#: --trace 0 and reported as per-layer metrics by the traced run
WALL_METRICS = {
    "setup_wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}
#: workload-specific wall-clock figures; printed with --trace 0 (where
#: defined) and reported as per-layer metrics by the traced run
WORKLOAD_METRICS = {
    "error_rate": "ratio",
    "query_fast_p50_s": "s",
    "query_driver_p50_s": "s",
    "readback_s": "s",
    "readback_compacted_s": "s",
    "compact_s": "s",
    "bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "api.read_calls": "count/op",
    "api.read_plan_s": "s/op",
    "api.fast_path_share": "ratio",
    "api.fast_path_fallbacks": "count",
    "api.write_s": "s/op",
    "queries.compile_s": "s/op",
    "queries.eval_calls": "count/op",
    "column_parser.generated_segments": "count/op",
    "fs.ls_calls": "count/op",
    "fs.ls_s": "s/op",
    "fs.open_calls": "count/op",
    "discovery.walk_s": "s/op",
    "discovery.partitions_out": "count/op",
    "discovery.prune_ratio": "ratio",
    "readers.read_s": "s/op",
    "readers.bindings": "count/op",
    "readers.files_out": "count/op",
    "spark.plan_jobs": "count/op",
    "spark.action_s": "s/op",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "pipeline.build_corpus_s": "s/op",
    "dedup.signatures_s": "s/op",
    "dedup.lsh_pairs_s": "s/op",
    "dedup.pairs_out": "count/op",
    "dedup.exact_removed": "count/op",
    "dedup.planted_recall": "ratio",
    "maintenance.file_stats_s": "s/op",
    "maintenance.compact_s": "s/op",
    "maintenance.files_before": "count",
    "maintenance.files_after": "count",
    **{f"{layer}.self_s": "s/op" for layer in (
        "api", "discovery", "fs", "queries", "readers", "spark",
        "pipeline", "dedup", "maintenance", "bench",
    )},
    **WALL_METRICS,
    **WORKLOAD_METRICS,
    "trace.overhead_s": "s",
    "trace.spans": "count/op",
}
#: per-layer time = summed duration of the outermost spans of this name
SPAN_METRICS = {
    "api.read_plan_s": "api.read",
    "api.write_s": "api.write",
    "queries.compile_s": "queries.compile",
    "fs.ls_s": "fs.ls",
    "discovery.walk_s": "discovery.walk",
    "readers.read_s": "readers.read",
    "spark.action_s": "spark.action",
    "pipeline.build_corpus_s": "spark.build_corpus",
    "dedup.signatures_s": "spark.signatures",
    "dedup.lsh_pairs_s": "spark.lsh_pairs",
    "maintenance.file_stats_s": "maintenance.file_stats",
    "maintenance.compact_s": "maintenance.compact",
}
COUNT_METRICS = (
    "api.read_calls", "queries.eval_calls", "column_parser.generated_segments",
    "fs.ls_calls", "fs.open_calls", "discovery.partitions_out", "readers.bindings",
    "readers.files_out", "dedup.pairs_out", "dedup.exact_removed",
)


@dataclass
class Record:
    kind: str
    latency: float
    cpu: float
    rows: int
    ok: bool
    traced: bool


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest of the usual
    percentiles with at least ten samples above it. When the sample is too
    small for any, the nearest-rank p90, which rests on fewer than ten (the
    printed count says how many): steadier than the maximum."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        beyond = n - int(n * p / 100.0)
        if beyond >= 10:
            # the value with n - beyond samples at or below it
            return xs[n - beyond - 1], p, beyond
    p = TAIL_PERCENTILES[-1]
    rank = math.ceil(n * p / 100.0)
    return xs[rank - 1], p, n - rank


def by_kind(records: list[Record], field: str = "latency") -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for r in records:
        out[r.kind].append(getattr(r, field))
    return out


def end_to_end(records: list[Record], setup_cpu: list[float], rss_mb: float) -> dict:
    cpu = [r.cpu for r in records]
    return {
        "setup_s": statistics.median(setup_cpu),
        "op_cpu_p50_s": statistics.median(cpu),
        "op_cpu_mean_s": sum(cpu) / len(cpu),
        "peak_rss_mb": rss_mb,
    }


def wall_figures(records: list[Record], setup_wall: list[float]) -> tuple[dict, str]:
    """The wall-clock metrics of ``records``, and a note on the tail."""
    lat = [r.latency for r in records]
    busy = sum(lat)
    tail_v, tail_p, beyond = tail(lat)
    return {
        "setup_wall_s": statistics.median(setup_wall),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(records) / busy,
        "rows_per_s": sum(r.rows for r in records) / busy,
    }, f"p{tail_p:g} of {len(lat)} ops, {beyond} beyond"


def per_layer(records, tracer, spark_stats, workload_figures, session_times) -> dict:
    from tracing import layer_totals, self_times

    traced_ops = {i for i, r in enumerate(records) if r.traced}
    n = max(1, len(traced_ops))
    spans = [s for s in tracer.spans if s.op in traced_ops]
    counts: Counter = Counter()
    for (op, name), v in tracer.counts.items():
        if op in traced_ops:
            counts[name] += v

    out = {"session.start_s": statistics.median(session_times)}
    totals = layer_totals(spans)
    for metric, span_name in SPAN_METRICS.items():
        out[metric] = totals.get(span_name, 0.0) / n
    for metric in COUNT_METRICS:
        out[metric] = counts[metric] / n
    reads = counts["api.read_calls"]
    out["api.fast_path_share"] = counts["api.fast_path_reads"] / reads if reads else 0.0
    out["api.fast_path_fallbacks"] = counts["api.fast_path_fallbacks"]
    tree = counts["discovery.tree_files"]
    out["discovery.prune_ratio"] = counts["discovery.partitions_out"] / tree if tree else 0.0
    planted = counts["dedup.planted"]
    out["dedup.planted_recall"] = counts["dedup.planted_found"] / planted if planted else 0.0
    for key in ("plan_jobs", "jobs", "stages", "tasks"):
        out[f"spark.{key}"] = sum(spark_stats.get(op, {}).get(key, 0) for op in traced_ops) / n
    selfs = self_times(spans)
    for metric in PER_LAYER:
        if metric.endswith(".self_s"):
            out[metric] = selfs.get(metric[: -len(".self_s")], 0.0) / n
    for metric in (*WALL_METRICS, *WORKLOAD_METRICS):
        out[metric] = workload_figures.get(metric, 0.0)
    for metric in ("maintenance.files_before", "maintenance.files_after"):
        out[metric] = workload_figures.get(metric, 0.0)

    # overhead: per kind, traced minus untraced median, weighted by count
    by_kind: dict[str, dict[bool, list[float]]] = defaultdict(lambda: {True: [], False: []})
    for r in records:
        by_kind[r.kind][r.traced].append(r.latency)
    diff = weight = 0.0
    for kind, sides in by_kind.items():
        if sides[True] and sides[False]:
            k = len(sides[True]) + len(sides[False])
            diff += k * (statistics.median(sides[True]) - statistics.median(sides[False]))
            weight += k
    out["trace.overhead_s"] = diff / weight if weight else 0.0
    out["trace.spans"] = len(spans) / n
    return out


def report(metrics: dict, units: dict, notes: dict | None = None) -> list[str]:
    """One line per metric: name, value, unit (and a note, if any)."""
    notes = notes or {}
    return [
        f"{name:<34} {metrics[name]:>14.6g} {unit:<9}{notes.get(name, '')}".rstrip()
        for name, unit in units.items()
    ]


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this driver process and of the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM, its Python workers): each live process's own time plus that
    of the children it has reaped."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has ended
            continue
        # after the command name: state, ppid, ..., utime, stime, cutime, cstime
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children[pid]
    return total / CLOCK_TICKS


def hygiene(work: str) -> None:
    """Process environment for Spark, set before the JVM starts."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # pandas-UDF workers import fsql_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # a fixed heap and young generation: the JVM's resident set then
    # follows the live data, not the collector's adaptive sizing. Only the
    # client compiler (C1): with C2 as well, compiling Spark's code went on
    # for minutes after warm-up, at up to several CPU seconds per operation
    # and with operations 1.5-2x slower in the first measured cycle; with
    # C1 alone the cycles after a short warm-up read alike
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m -XX:TieredStopAtLevel=1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # the console progress bar shares stdout with the results
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.enabled=false",
        "--conf", shlex.quote(f"spark.local.dir={local}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def start_session(cores: int):
    import fsql_spark as fq

    spark = fq.get_spark(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, work: str) -> dict:
    import workloads
    from tracing import JobGroups, Tracer, Wrappers, counting_fs_class

    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    t_gen = time.perf_counter()
    wl.generate()
    t_gen = time.perf_counter() - t_gen
    cores = max(1, min(wl.cores, len(os.sched_getaffinity(0))))

    spark = None
    setup_cpu, setup_times, session_times, stop_times = [], [], [], []
    try:
        for rep in range(SETUP_REPS):
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            stop_times.append(time.perf_counter() - t0)
            spark = start_session(cores)
            t1 = time.perf_counter()
            wl.open(spark, rep)
            t2 = time.perf_counter()
            session_times.append(t1 - t0)
            setup_times.append(t2 - t0)
            setup_cpu.append(tree_cpu_s() - c0)
        t_warm = time.perf_counter()
        wl.warm_up(spark)
        t_warm = time.perf_counter() - t_warm

        tracer = groups = wrappers = fs = None
        if args.trace:
            tracer = Tracer()
            groups = JobGroups(f"perfbench-{os.getpid()}")
            wrappers = Wrappers(tracer)
            fs = counting_fs_class()(tracer)

        records: list[Record] = []
        seen: Counter = Counter()
        # the run lasts --seconds of operation time; between operations,
        # untimed, cached data is dropped and both heaps are collected, so
        # no operation pays for the garbage of the one before it
        elapsed = 0.0
        # a traced run alternates traced and untraced operations of each
        # kind, so it needs two cycles to time every kind untraced
        min_cycles = 2 if args.trace else 1
        for done, cycle in enumerate(wl.cycles()):
            if elapsed >= args.seconds and done >= min_cycles:
                break
            for op in cycle:
                op_id = len(records)
                traced = bool(args.trace) and seen[op.kind] % 2 == 0
                seen[op.kind] += 1
                ctx = workloads.OpContext(spark, op_id, *((tracer, fs, groups) if traced else ()))
                ok, rows = True, 0
                spark.catalog.clearCache()
                gc.collect()
                spark._jvm.System.gc()
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                try:
                    if traced:
                        tracer.op = op_id
                        with wrappers.installed(), tracer.span("bench.op"):
                            rows = op.run(ctx)
                    else:
                        rows = op.run(ctx)
                except Exception:
                    ok = False
                    print(f"operation {op_id} ({op.kind}) failed:", file=sys.stderr)
                    traceback.print_exc()
                latency = time.perf_counter() - t0
                cpu = tree_cpu_s() - c0
                if tracer is not None:
                    tracer.op = None
                records.append(Record(op.kind, latency, cpu, rows, ok, traced))
                elapsed += latency

        failed = sum(not r.ok for r in records)
        # wall-clock figures are latencies: the untraced operations' only
        untraced = [r for r in records if not r.traced]
        wall, tail_note = wall_figures(untraced, setup_times)
        figures = {"error_rate": failed / len(records), **wall, **wl.summary(untraced)}
        py_mb, jvm_mb = peak_rss_mb(spark)
        e2e = end_to_end(records, setup_cpu, py_mb + jvm_mb)
        lines = [f"# {args.workload} seed={args.seed} ops={len(records)} failed={failed} "
                 f"busy={elapsed:.2f}s local[{cores}] trace={args.trace}",
                 f"# untimed: inputs {t_gen:.2f}s, warm-up {t_warm:.2f}s; set-up reps "
                 + ", ".join(f"{t:.2f}s" for t in setup_times)
                 + " (CPU " + ", ".join(f"{t:.2f}s" for t in setup_cpu) + ";"
                 + " session stop " + ", ".join(f"{t:.2f}s" for t in stop_times)
                 + "; start " + ", ".join(f"{t:.2f}s" for t in session_times) + ")",
                 "# per kind: " + ", ".join(
                     f"{k} n={len(v)} p50={statistics.median(v):.3f}s"
                     for k, v in sorted(by_kind(records).items())),
                 "# per kind, CPU: " + ", ".join(
                     f"{k} p50={statistics.median(v):.3f}s"
                     for k, v in sorted(by_kind(records, "cpu").items())),
                 f"# peak rss: driver python {py_mb:.0f} MB, jvm {jvm_mb:.0f} MB"]
        if args.trace:
            time.sleep(1.0)  # the status tracker is fed by an asynchronous listener
            metrics = per_layer(records, tracer, groups.collect(spark), figures, session_times)
            lines += report(metrics, PER_LAYER)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
            units = PER_LAYER
        else:
            metrics = e2e
            lines += report(e2e, END_TO_END)
            lines += report(figures, WALL_METRICS, {"op_tail_s": tail_note})
            lines += report(figures, {k: u for k, u in WORKLOAD_METRICS.items() if k in figures})
            units = END_TO_END
        print("\n".join(lines))
        return {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)


def run_all(args) -> int:
    """Every workload, one process each, one after the other; the last line
    is one JSON object over all of them, its metrics prefixed by workload."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        sys.stdout.write(proc.stdout)
        sys.stdout.flush()
        if proc.returncode != 0:
            return proc.returncode
        result = json.loads(proc.stdout.splitlines()[-1])
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES, help="default: every workload, in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fsql_spark", "__init__.py")):
        print(f"perfbench: no fsql_spark package under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    if args.workload is None:
        return run_all(args)
    sys.path[:0] = [HERE, ROOT]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        hygiene(work)
        result = measure(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
