"""Benchmark of pandas_weights_spark: one named workload, one seed.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
inputs under ``.bench_build/perfbench``, starts a local Spark session
with the settings pinned in ``harness.py``, and then:

1. set-up, timed from process start: session up, inputs registered,
   and one untimed warm-up pass of the op mix
   whose every output is collected and checked against an independent
   oracle (input generation and the checks themselves are excluded);
2. a closed loop (one client, next op only after the previous one has
   materialised) of whole passes over the op mix for ``--seconds``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` passes alternate untraced/traced and it carries the
per-layer metrics. The line before it is a JSON record of the
environment, inputs, op list, sample counts and failures.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

WORKLOADS = ("dashboard", "corpus")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _peak_rss_reset(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def _peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _cpu_times() -> list[int]:
    """Host-wide CPU jiffies (user … steal) from /proc/stat; the steal
    share shows when other tenants of the machine took CPU from the run."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv) -> int:
    t_process = float(os.environ.get("PERFBENCH_T0", time.time()))
    args = _args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        env = dict(os.environ, PYTHONHASHSEED="0", PERFBENCH_T0=repr(t_process))
        os.execve(sys.executable, [sys.executable, *sys.argv], env)

    root = str(Path(__file__).resolve().parents[1])
    sys.path.insert(0, root)
    try:
        import pandas_weights_spark  # the program under test
    except ImportError as e:
        print(f"perfbench: cannot import pandas_weights_spark from {root}: {e}",
              file=sys.stderr)
        return 2
    if not pandas_weights_spark.__file__.startswith(root + os.sep):
        print(f"perfbench: pandas_weights_spark imported from "
              f"{pandas_weights_spark.__file__}, not from {root}", file=sys.stderr)
        return 2

    import harness
    import inputs as inputs_mod
    import spans
    from ops import plan

    build_root = os.path.join(root, ".bench_build", "perfbench")
    run_id = f"{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(build_root, f"run-{run_id}")
    t = time.perf_counter()
    inputs = inputs_mod.prepare(args.workload, args.seed,
                                os.path.join(build_root, "inputs"))
    gen_s = time.perf_counter() - t
    ops = plan(args.workload, args.seed, inputs.rows.get("embeddings", 0))
    os.makedirs(run_dir)
    os.environ.update(harness.pinned_env(root, run_dir))

    duck = harness.duck_connection(inputs)
    problems: dict[str, str] = {}
    attempted = failed = 0
    check_s = 0.0
    spark = None
    phases = {}
    try:
        spark = harness.start_session(run_dir)
        phases["session_up_s"] = time.time() - t_process - gen_s
        t = time.perf_counter()
        ctx = harness.Ctx(spark, inputs, duck, run_dir)
        ctx.register()
        phases["register_s"] = time.perf_counter() - t
        for op in ops:
            attempted += 1
            try:
                b, e, rows = harness.run_op(ctx, op, checked=True)
                phases[f"warmup.{op.name}_s"] = b + e
                c0 = time.perf_counter()
                problem = harness.check(ctx, op, rows)
                check_s += time.perf_counter() - c0
            except Exception as e:  # an op that raises is a failed op
                traceback.print_exc()
                problem = f"raised {type(e).__name__}: {str(e)[:300]}"
            if problem:
                failed += 1
                problems.setdefault(op.name, problem)
        setup_s = time.time() - t_process - gen_s - check_s

        sc = spark.sparkContext
        pids = [os.getpid(), sc._gateway.proc.pid]
        tracer = spans.Tracer(run_id) if args.trace else None
        latencies: dict[str, list[float]] = {op.name: [] for op in ops}
        pass_times = {True: [], False: []}
        timed_failed: dict[str, int] = {}
        op_id = 0
        # start the window from a compacted heap so its peak is the
        # window's own working set, not garbage left by the set-up pass
        sc._jvm.java.lang.System.gc()
        gc.collect()
        _peak_rss_reset(pids)
        cpu0 = _cpu_times()
        t_begin = time.perf_counter()
        n_pass = 0
        while True:
            traced = bool(tracer) and n_pass % 2 == 1
            p0 = time.perf_counter()
            pass_span = tracer.span("pass", time.time(), None) if traced else None
            for op in ops:
                attempted += 1
                op_id += 1
                if traced:
                    sc.setJobGroup(tracer.group(op_id), op.name)
                    ctx.stream_groups.clear()
                w0 = time.time()
                try:
                    b, e, _ = harness.run_op(ctx, op, checked=False)
                except Exception as ex:
                    traceback.print_exc()
                    failed += 1
                    timed_failed[op.name] = timed_failed.get(op.name, 0) + 1
                    problems.setdefault(op.name, f"raised {type(ex).__name__}: "
                                                 f"{str(ex)[:300]}")
                    continue
                finally:
                    if traced:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                if traced:
                    span = tracer.span("op", w0, w0 + b + e, parent=pass_span,
                                       op_id=op_id, layer=op.layer, op=op.name)
                    tracer.span("build", w0, w0 + b, parent=span, op_id=op_id)
                    tracer.span("exec", w0 + b, w0 + b + e, parent=span, op_id=op_id)
                    tracer.ops.append({"op_id": op_id, "op": op.name,
                                       "layer": op.layer, "span": span,
                                       "groups": [tracer.group(op_id),
                                                  *ctx.stream_groups],
                                       "build_start": w0, "build_end": w0 + b,
                                       "exec_end": w0 + b + e})
                else:
                    latencies[op.name].append(b + e)
            pass_times[traced].append(time.perf_counter() - p0)
            if traced:
                tracer.spans[pass_span]["end"] = time.time()
            n_pass += 1
            done = time.perf_counter() - t_begin >= args.seconds
            if done and (not tracer or (pass_times[True] and pass_times[False])):
                break
        peak_rss = _peak_rss_mb(pids)
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        steal = cpu[7] / max(1, sum(cpu[:8]))

        # every timed run of an op whose checked output was wrong is wrong
        for name in problems:
            failed += len(latencies.get(name, []))
        if tracer:
            h0 = time.perf_counter()
            tracer.harvest(sc)
            harvest_s = time.perf_counter() - h0
            tracer.write(os.path.join(build_root, "traces",
                                      f"{args.workload}-s{args.seed}-{run_id}.json"))
        env = harness.environment(spark, root, args.seed)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        duck.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = [x for v in latencies.values() for x in v]
    table_rows = dict(inputs.rows, shards=inputs.rows.get("documents", 0))
    per_op = {n: statistics.median(v) for n, v in latencies.items() if v}
    pass_rows = sum(table_rows[t] for op in ops if op.name in per_op
                    for t in op.reads)
    record = {
        "workload": args.workload,
        "env": env,
        "inputs": {"fingerprint": inputs.fingerprint, "rows": inputs.rows,
                   "generate_s": gen_s},
        "ops": [{"name": op.name, "layer": op.layer, "params": op.params}
                for op in ops],
        "setup_phases": phases,
        "check_s": check_s,
        "passes": {"untraced": len(pass_times[False]), "traced": len(pass_times[True])},
        "timed_ops": len(samples),
        "op_median_s": per_op,
        "op_p90_s": _quantile(samples, 0.9) if samples else None,
        "cpu_steal_share": steal,
        "failed_ratio": failed / attempted,
        "timed_failures": timed_failed,
        "problems": problems,
    }
    if tracer:
        record["trace"] = {"harvest_s": harvest_s, "spans": len(tracer.spans)}
        metrics = spans.reduce(
            tracer, len(pass_times[True]),
            spans.overhead(pass_times[True], pass_times[False]),
            harness.CORES)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": pass_rows / sum(per_op.values()),
                           "unit": "rows/s"},
            "op_p50_s": {"value": _quantile(samples, 0.5), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
