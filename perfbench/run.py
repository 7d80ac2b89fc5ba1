"""Repository benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload w1w4_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.bench_work/``; the engine sees only those files. With ``--trace 0``
the last stdout line carries the end-to-end metrics, with ``--trace 1``
the per-layer ones (see README.md in this directory). The line before it
echoes the run environment and the details behind the metrics. The exit
code is 1 when any operation or output check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# timed passes continue past --seconds until this many operations ran, so
# the tail percentile has 10 samples beyond it and lies above the median
MIN_OPS = 20


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, in the order BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_environment(work: str) -> dict:
    """Fix the engine's environment knobs for this run (before the JVM starts)."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, phys_mb // 2)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    }
    os.environ.pop("SPARK_GRAFT_CONF", None)
    os.environ.update(env)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least 10 samples beyond it; below 20 samples, where that would not
    even reach the median (served reads), the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def median_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"engine sources not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]

    import probes
    import workloads

    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.session import (
        get_spark,
    )

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spans = probes.Spans(T_START) if args.trace else None
    wl = workloads.WORKLOADS[args.workload](work, args.seed, spans)
    rss = probes.RssSampler()
    spark = None
    t = {"start": T_START}
    try:
        wl.stage()
        t["staged"] = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # everything the JVM writes stays in the work directory; without
                # -XX:-UsePerfData it would also write to the system temp dir
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={env['TMPDIR']} -Dderby.system.home={work} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t["session"] = time.perf_counter()
        failures = wl.warmup(spark)
        t["warm"] = time.perf_counter()

        # a traced run alternates untraced and traced passes
        passes, traced = [], []
        if args.trace:
            rss.start()
        while True:
            index = len(passes) + len(traced)
            if args.trace and index % 2:
                traced.append(wl.run_pass(spark, index, True))
            else:
                passes.append(wl.run_pass(spark, index, False))
            n_ops = sum(len(p.ops) for p in passes + traced)
            timed_out = time.perf_counter() - t["warm"] >= args.seconds
            if timed_out and n_ops >= MIN_OPS and (traced or not args.trace):
                break
        t["timed"] = time.perf_counter()
        rss.stop()
        try:
            failures += wl.check(spark)
        except Exception:
            traceback.print_exc()
            failures.append("output check raised")
        t["checked"] = time.perf_counter()
        sc = spark.sparkContext
        env_echo = {
            "workload": args.workload, "seed": args.seed, "sf": wl.sf,
            "master": sc.master, "defaultParallelism": sc.defaultParallelism,
            "spark": spark.version, **env,
        }
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    t["stopped"] = time.perf_counter()

    ops = [op for p in passes + traced for op in p.ops]
    reads = [r for p in passes + traced for r in p.reads_ms]
    read_errors = sum(p.read_errors for p in passes + traced)
    failed = sum(not op.ok for op in ops) + read_errors + len(failures)
    attempted = len(ops) + len(reads) + read_errors + wl.checks
    op_tail, op_pct, op_beyond = tail([op.ms for op in ops])
    pass_s = statistics.median(p.seconds for p in passes)
    marks = list(t)
    detail = {
        "passes_s": [round(p.seconds, 3) for p in passes],
        "traced_passes_s": [round(p.seconds, 3) for p in traced],
        "ops": len(ops), "op_tail_percentile": round(op_pct, 1), "op_tail_beyond": op_beyond,
        "error_rate": failed / attempted, "failures": failures,
        "phase_s": {b: round(t[b] - t[a], 2) for a, b in zip(marks, marks[1:])},
        "oracle_compare_s": round(wl.verify_s, 2),
    }
    if reads:
        read_tail, read_pct, read_beyond = tail(reads)
        detail.update({
            "reads": len(reads), "read_p50_ms": statistics.median(reads), "read_tail_ms": read_tail,
            "read_tail_percentile": round(read_pct, 1), "read_tail_beyond": read_beyond,
        })

    if args.trace:
        units = metric_units("per_layer")
        layers = dict.fromkeys(units, 0.0)
        layers.update(median_dict([op.layers for p in traced for op in p.ops if op.layers]))
        layers.update(median_dict([p.layers for p in traced if p.layers]))
        if reads:
            layers["streaming.read_p50_ms"] = detail["read_p50_ms"]
            layers["streaming.read_tail_ms"] = detail["read_tail_ms"]
        layers["session.start_ms"] = (t["session"] - t["staged"]) * 1e3
        layers["session.warmup_ms"] = (t["warm"] - t["session"] - wl.verify_s) * 1e3
        layers["session.peak_rss_mb"] = rss.peak_bytes / (1 << 20)
        layers["trace.pass_s"] = statistics.median(p.seconds for p in traced)
        layers["trace.overhead_s"] = layers["trace.pass_s"] - pass_s
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        spans_path = os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-s{args.seed}.jsonl")
        spans.write(spans_path)
        detail["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        values = {
            "setup_s": t["warm"] - T_START - wl.verify_s,
            "pass_s": pass_s,
            "rows_per_s": sum(p.rows for p in passes) / sum(p.seconds for p in passes),
            "op_p50_ms": statistics.median(op.ms for op in ops),
            "op_tail_ms": op_tail,
            "ok_rate": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units("end_to_end").items()}

    print(json.dumps({"env": env_echo, "detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(3)
