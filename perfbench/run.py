#!/usr/bin/env python3
"""Benchmark runner: one client, closed loop, ops back to back.

    python3 perfbench/run.py --workload vcf_panel --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all     # every workload, one line each
    python3 perfbench/run.py --smoke

Run from the repository root. The library is imported from the working
directory's ``pandasvcf_spark/`` (never from anywhere else); without it the
runner exits non-zero before printing a result.

One run: generate (or reuse) the seeded inputs; set up once (``get_spark``,
JVM launch included, through one untimed, checked warm-up op); run
``WARMUPS`` more untimed, checked ops; then run ops back to back on
``local[nproc]`` until ``--seconds`` have passed, checking every op's output
outside its timing. The last stdout line is the JSON result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced ops and reports the per-layer metrics (medians over the
traced ops) and the tracing overhead (median traced minus median untraced
op wall); its spans are written to ``perfbench/.out/trace-*.json``. A
traced op whose layer parts do not sum to 0.9-1.1 of its wall makes the
result incorrect.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".out")
WARMUPS = 3
#: A fixed G1 young generation. G1 otherwise sizes it from measured pause
#: times, so on a shared host the JVM's VmHWM (peak_rss_mb) swung by 40%
#: between runs of the same op; with it fixed, by under 6%.
YOUNG_GEN = "-Xmn1g"
#: the layer parts of a traced op must sum to this share of its wall
PARTS_OVER_WALL = (0.9, 1.1)


def _isolate_scratch() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} {YOUNG_GEN}"
    import tempfile

    tempfile.tempdir = tmp


def _import_library():
    """Import pandasvcf_spark from the working directory or exit(2)."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pandasvcf_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import pandasvcf_spark from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(pandasvcf_spark.__file__))
    if os.path.dirname(where) != ROOT:
        sys.exit(f"perfbench: pandasvcf_spark imported from {where}, not {ROOT}")
    return pandasvcf_spark


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _reset_hwm() -> None:
    """Restart this process's VmHWM, so that peak_rss_mb does not count the
    memory the input generator and the catalog's DuckDB oracle used."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    lib = _import_library()
    import tracing
    import workloads

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    wl = workloads.WORKLOADS[workload](size, seed)
    gen_s = time.perf_counter() - t
    _reset_hwm()

    current = {"tr": None}
    patch = (
        tracing.patched_library(lambda: current["tr"])
        if trace
        else contextlib.nullcontext()
    )
    spans = []
    correct = True
    attempted = failed = 0
    walls = {False: [], True: []}  # traced? -> op walls
    layers: list[dict] = []
    with patch:
        t = time.perf_counter()
        spark = lib.get_spark(app_name="perfbench", cpus=cores)
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        warm = wl.op(spark, tracing.Tracer(spark, 0, False))
        setup_s = time.perf_counter() - t
        correct &= wl.check(warm)

        # op walls still fall over the first ops after the set-up while
        # the JIT warms up: run them untimed (and checked)
        for _ in range(WARMUPS):
            correct &= wl.check(wl.op(spark, tracing.Tracer(spark, 0, False)))

        op_id = 0
        t_start = time.perf_counter()
        min_ops = 2 if trace else 1  # a traced run needs one op of each kind
        while op_id < min_ops or time.perf_counter() - t_start < seconds:
            op_id += 1
            traced = trace and op_id % 2 == 0
            tr = tracing.Tracer(spark, op_id, traced)
            current["tr"] = tr if traced else None
            attempted += 1
            t = time.perf_counter()
            try:
                with tr.op():
                    result = wl.op(spark, tr)
                wall = time.perf_counter() - t
                ok = wl.check(result)
            except Exception as e:  # a failed op counts; the loop goes on
                print(f"op {op_id} failed: {e!r}"[:400], file=sys.stderr)
                ok, wall = False, None
            current["tr"] = None
            if not ok:
                failed += 1
                continue
            walls[traced].append(wall)
            if traced:
                layers.append(tr.metrics(cores, workloads.CATALOG_QUERIES))
                spans.extend(tr.spans)

        rss_py = _hwm_mb(os.getpid())
        rss_jvm = _hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss = rss_py + rss_jvm
    _stop(spark)

    n_ok = len(walls[False]) + len(walls[True])
    summary = {
        "workload": workload,
        "seed": seed,
        "cores": cores,
        "closed_loop_clients": 1,
        "input_gen_s": round(gen_s, 3),
        "inputs": {k: v for k, v in wl.meta.items() if k not in ("expected", "path")},
        "setup_s": setup_s,
        "ops": attempted,
        "op_walls_s": [round(x, 3) for x in walls[False] + walls[True]],
        "failed_frac": failed / max(attempted, 1),
    }
    if trace:
        metrics = {}
        if layers:
            for key in layers[0]:
                metrics[key] = statistics.median(m[key] for m in layers)
            metrics["plans.get_spark_s"] = get_spark_s
            metrics["trace.overhead_s"] = (
                statistics.median(walls[True]) - statistics.median(walls[False])
                if walls[False] else 0.0
            )
        units = {}
        for key in metrics:
            units[key] = (
                "s" if key.endswith("_s")
                else "MB" if key.endswith("_mb")
                else "ratio" if key.endswith(("_frac", "_wall", "_out"))
                else "count"
            )
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        summary["traced_ops"] = len(layers)
        summary["parts_over_wall"] = [round(m["split.parts_over_wall"], 3) for m in layers]
        lo, hi = PARTS_OVER_WALL
        for frac in summary["parts_over_wall"]:
            if not lo <= frac <= hi:
                print(f"perfbench: layer parts sum to {frac:.3f} of an op wall "
                      f"(outside {lo}-{hi}): a public call is not spanned",
                      file=sys.stderr)
                correct = False
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"trace-{workload}-seed{seed}.json"), "w") as fh:
            json.dump({"summary": summary, "spans": spans, "layers": layers}, fh)
    else:
        w = walls[False]
        wall = statistics.median(w) if w else 0.0  # no good op: correct=false
        q1, q3 = _quartiles(w) if w else (wall, wall)
        per_s = wl.input_records / wall if wall else 0.0
        summary.update({
            "wall_s": wall,
            "wall_s_q1": q1,
            "wall_s_q3": q3,
            "wall_s_n": len(w),
            "peak_rss_mb": rss,
            "peak_rss_mb_python": rss_py,
            "peak_rss_mb_jvm": rss_jvm,
        })
        if workload.startswith("vcf"):
            summary["calls_per_s"] = per_s
        out_metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "input_per_s": {"value": per_s, "unit": "1/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(json.dumps(summary))
    return {
        "correct": bool(correct and failed == 0 and n_ok > 0),
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }


def run_child(workload: str, seed: int, seconds: float, trace: int,
              size: str = "bench") -> tuple[dict, dict]:
    """Run one workload in its own process; returns (summary, result)."""
    import subprocess

    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--size", size,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-2]), json.loads(lines[-1])


def report(seed: int, seconds: float) -> int:
    """Every BENCHMARK.json workload, untraced, one line each."""
    with open("BENCHMARK.json") as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    for name in names:
        summary, result = run_child(name, seed, seconds, 0)
        keys = ["setup_s", "wall_s", "calls_per_s", "peak_rss_mb", "failed_frac"]
        parts = [f"{k}={summary[k]:.6g}" for k in keys if k in summary]
        print(f"{name:16s} " + " ".join(parts)
              + f" (wall_s q1={summary['wall_s_q1']:.4g} q3={summary['wall_s_q3']:.4g}"
              f" n={summary['wall_s_n']}) correct={result['correct']}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", choices=("bench", "smoke"))
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at tiny sizes and assert")
    args = ap.parse_args(argv)
    _isolate_scratch()
    if args.smoke:
        _import_library()
        import smoke

        return smoke.main()
    if not args.workload:
        ap.error("--workload is required")
    if args.workload == "all":
        return report(args.seed, args.seconds)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
