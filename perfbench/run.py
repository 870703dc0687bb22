"""Benchmark entry point.

    python3 perfbench/run.py --workload {cmorise,curation} \\
        --seed N --seconds S --trace {0,1}

Runs one workload in this process on ``local[<cpus> - 1]`` and prints, as the
last line of stdout, ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reruns the
timed region with spans and status-store reads and reports the per-layer
metrics (spans go to ``.bench_work/traces/``).

    python3 perfbench/run.py --workload {W,all} --steady N [--seed N0] ...

runs the same command N times (seeds N0 .. N0+N-1) in child processes, for
one workload or every workload in BENCHMARK.json, and prints each metric's
unit, median and quartile spread.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cmorise", "curation")
#: nominal seconds per pass of each workload's op mix on a 4-vCPU host.  A
#: run times round(--seconds / PASS_S) whole passes, a count fixed by the
#: arguments alone, so every build measured does the same work however fast
#: it runs.
PASS_S = {"cmorise": 10.0, "curation": 5.0}
#: filelist rows whose plan prefixes the traced cmorise run times (two per
#: derivation): four executions each, kept few to bound the traced run
PREFIX_ROWS = 4
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "input_mb_per_s": "MB/s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                   help="'all' (steadiness mode only) runs every workload in BENCHMARK.json")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0,
                   help="run N times with successive seeds and print each metric's spread")
    return p.parse_args(argv)


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "access_mopper_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py")))


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside the
    checkout, and let Spark's Python workers import the program."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the environment variable wins over spark.local.dir, so pin it here
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # one core fewer than the process may use: the driver JVM's GC and JIT
    # threads and this process get a core of their own, so executor tasks
    # do not queue behind them (on 4 vCPUs, local[3] ops spread half as
    # much from run to run as local[4] ones, and run no slower)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1)))
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(work: str):
    from access_mopper_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # the program's own session settings (heap size included) stay as they
    # are; only scratch locations and status-store retention are set here
    return get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every op's jobs in the status store until the run reads them
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM PySpark launched, and wait for the JVM
    to exit (it exits when its stdin closes; its Python workers follow)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, work: str, cache: str, seed: int, tracer):
    import workloads as W

    if name == "cmorise":
        return W.Cmorise(spark, work, seed, tracer)
    return W.Curation(spark, work, cache, seed, tracer)


def pass_count(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def timed_region(wl, tracer, passes: int, tag: str):
    """``passes`` whole passes of the op mix, back to back.  Only op time
    counts.  Between ops the traced run reads the session counters, then
    the session is cleaned and the op's output checked.  Returns (ops,
    rows, session counters)."""
    from spans import StatusProbe, clean_session
    from workloads import Op

    ops, rows, left = [], [], []
    probe = StatusProbe(wl.spark) if tracer.enabled else None
    with tracer.span("workload"):
        for order in itertools.islice(wl.passes(), passes):
            for item in order:
                op = Op(f"{tag}{len(ops)}-{wl.op_kind(item)}", wl.op_kind(item))
                with tracer.span("op", op_id=op.op_id) as span:
                    wl.run_op(item, op)
                if probe is not None:
                    left.append(probe.session_left())
                    span.counts.update(input_mb=op.input_bytes / 1e6, **left[-1])
                clean_session(wl.spark)
                wl.check_op(item, op)
                ops.append(op)
                rows.append(item)
    return ops, rows, left


def end_to_end(ops, passes, setup_s) -> dict:
    wall = sum(op.wall_s for op in ops)
    in_mb = sum(op.input_bytes for op in ops) / 1e6
    return {"setup_s": setup_s, "wall_s": wall / passes,
            "op_p50_s": statistics.median(op.wall_s for op in ops),
            "input_mb_per_s": in_mb / wall}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(workload, wl, ops, left, passes, runtime, tracer, untraced_wall_s,
              prefix, pruned, names) -> dict:
    """Per-layer metrics of a traced timed region, for every name in
    ``names``.  Layers that do not apply to the workload read 0."""
    from spans import percentile, prefix_differences, self_times, tail_percentile

    n = len(ops)
    wall = sum(op.wall_s for op in ops)
    pct = tail_percentile(n)
    m = dict.fromkeys(names, 0.0)
    m.update({"op_tail_s": percentile([op.wall_s for op in ops], pct),
              "op_tail_pct": float(pct), "ops_timed": float(n),
              "fail_frac": sum(not op.ok for op in ops) / n,
              "trace.overhead_s": wall / passes - untraced_wall_s,
              "queries.build_s": _med(op.build_s for op in ops),
              "queries.execute_s": _med(op.execute_s for op in ops)})
    selfs = self_times(tracer.spans)
    m["functions.compile_s"] = _med(selfs[s.span_id] for s in tracer.spans if s.name == "compile")
    if workload == "cmorise":
        # execution time per layer: differences of noop-forced prefixes
        diffs = [prefix_differences(p) for p in prefix]
        for k, name in enumerate(("sources.scan_s", "functions.calc_s",
                                  "operators.resample_s", "sinks.write_s")):
            m[name] = _med(d[k] for d in diffs)
        m["sources.mb_read"] = _med(op.input_bytes / 1e6 for op in ops)
        m["sources.files_read"] = _med(p[0] for p in pruned)
        m["sources.files_pruned"] = _med(p[1] for p in pruned)
        m["sinks.files_written"] = _med(op.extra.get("files_written", 0) for op in ops)
        m["sinks.mb_written"] = _med(op.extra.get("bytes_written", 0) / 1e6 for op in ops)
        m["sinks.bytes_per_input_byte"] = (sum(op.extra.get("bytes_written", 0) for op in ops)
                                           / sum(op.input_bytes for op in ops))
    else:
        for q in wl.queries:
            m[f"queries.{q}.op_s"] = _med(op.wall_s for op in ops if op.kind == q)
    # runtime counters: per-pass totals from the status store
    for k in ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb", "driver_s",
              "executor_run_s", "executor_cpu_s", "gc_s", "spill_mb"):
        m[f"runtime.{k}"] = sum(r[k] for r in runtime) / passes
    slots = wl.spark.sparkContext.defaultParallelism
    m["runtime.slot_idle_frac"] = 1.0 - sum(r["executor_run_s"] for r in runtime) / (slots * wall)
    for k in ("cache_entries_left", "persistent_rdds_left", "storage_mb_left"):
        m[f"session.{k}"] = sum(x[k] for x in left) / passes
    return {k: m[k] for k in names}


def run(args) -> int:
    if args.workload == "all":
        log("--workload all needs --steady N")
        return 2
    if not program_present():
        log("access_mopper_spark/ and tools/check_correctness.py must sit beside "
            "perfbench/ (run from the root of a full checkout)")
        return 2
    os.chdir(ROOT)  # the cmorise file list holds paths relative to the checkout
    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    try:
        result = measure(args, work, bench_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args, work: str, bench_root: str) -> dict:
    from spans import StatusProbe, Tracer

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        wl = make_workload(args.workload, spark, work, os.path.join(bench_root, "oracle-cache"),
                           args.seed, Tracer(False))
        info = wl.setup()
        setup_s = session_s + info["gen_s"] + info["warm_s"]
        log(f"setup: session {session_s:.2f}s gen {info['gen_s']:.2f}s warm {info['warm_s']:.2f}s")
        passes = pass_count(args.workload, args.seconds)
        ops, rows, _ = timed_region(wl, wl.tracer, passes, "t")
        untraced_wall = sum(op.wall_s for op in ops) / passes
        problems = wl.check()
        for what, why in problems.items():
            log(f"check failed: {what}: {why}")
        if args.trace:
            wl.tracer = Tracer(True)
            with wl.tracer.span("run"):
                ops, rows, left = timed_region(wl, wl.tracer, passes, "x")
        for op in ops:
            if op.kind in problems:  # a query failing its oracle check fails its ops
                op.ok, op.error = False, problems[op.kind]
            if not op.ok:
                log(f"op {op.op_id} ({op.kind}) failed: {op.error}")
        if args.trace:
            probe = StatusProbe(spark)
            runtime = [probe.op_runtime(op.op_id, op.t0, op.t1) for op in ops]
            op_spans = {s.op_id: s for s in wl.tracer.spans if s.name == "op"}
            for op, r in zip(ops, runtime):
                op_spans[op.op_id].counts.update(r)
            prefix, pruned = [], []
            if args.workload == "cmorise":
                first = {}
                for row, op in zip(rows, ops):
                    first.setdefault(row, op)
                for row, op in list(first.items())[:PREFIX_ROWS]:
                    prefix.append(wl.prefix_times(row, op.op_id))
                    pruned.append(wl.files_pruned(row))
            units = per_layer_units()
            metrics = per_layer(args.workload, wl, ops, left, passes, runtime, wl.tracer,
                                untraced_wall, prefix, pruned, list(units))
            trace_dir = os.path.join(bench_root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            wl.tracer.write(path)
            log(f"spans: {path}")
        else:
            metrics, units = end_to_end(ops, passes, setup_s), END_TO_END
    finally:
        stop_spark(spark)
    failed = sum(not op.ok for op in ops)
    return {"correct": failed == 0 and not problems, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def steady(args) -> int:
    """Run the benchmark ``args.steady`` times with successive seeds, for one
    workload or (``--workload all``) every workload in BENCHMARK.json, and
    print each metric's unit, median and (Q3 - Q1) / median."""
    from spans import quartile_spread

    if args.workload == "all":
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
    else:
        names = [args.workload]
    summary: dict = {}
    for workload in names:
        values, units, failed = {}, {}, 0
        for k in range(args.steady):
            seed = args.seed + k
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            t = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if out.returncode != 0:
                log(f"{workload} seed {seed}: exit {out.returncode}")
                return out.returncode
            res = json.loads(out.stdout.strip().splitlines()[-1])
            failed += res["failed"] + (not res["correct"])
            log(f"{workload} seed {seed}: {time.perf_counter() - t:.1f}s correct={res['correct']} "
                + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()))
            for n, m in res["metrics"].items():
                values.setdefault(n, []).append(m["value"])
                units[n] = m["unit"]
        print(f"{workload}: {args.steady} runs, {failed} failures")
        summary[workload] = {}
        for n, xs in values.items():
            med, spread = quartile_spread(xs)
            summary[workload][n] = {"unit": units[n], "median": med, "spread": spread, "values": xs}
            print(f"  {n:40s} {units[n]:6s} median {med:12.5g}  spread {spread:7.2%}")
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    return steady(args) if args.steady else run(args)


if __name__ == "__main__":
    sys.exit(main())
