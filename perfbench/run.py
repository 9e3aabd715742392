"""Repository benchmark: the nightly ETL and report pages, driven through
the engine's public functions.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is
the end-to-end metrics. With ``--trace 1`` the measured work is done
twice, first untraced and then with spans and a Spark event log, and the
last line is the per-layer metrics, tracing overhead included. The
untraced work runs in a child process when the workload's units must be
the first of their process (``cold_units``), else after the same set-up.
Scratch files and the last run's artifact go under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Ctx:
    seed: int
    cpus: int
    work: str
    tracer: object
    spark: object = None


def _workloads() -> dict:
    from wl_etl import EtlNightly
    from wl_report import ReportPage

    return {w.name: w for w in (EtlNightly, ReportPage)}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session(ctx: Ctx, event_log: str | None = None):
    from irstats2_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # a capped heap: at the engine's default 8 GB the JVM's peak RSS
        # depends on when the collector grows the heap (2.1 or 3.0 GB for
        # the same work), which no change to the program would explain
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cpus=ctx.cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("WARN")
    ctx.tracer.sc = spark.sparkContext
    return spark


def host_context(ctx: Ctx) -> dict:
    """Contention is readable from the artifact: cores, load and a fixed
    CPU-bound calibration job (best of 3)."""
    import gen

    best = None
    for _ in range(3):
        s = time.perf_counter()
        ctx.spark.range(8_000_000).selectExpr("sum(id * 3 + 1) AS s").collect()
        e = time.perf_counter() - s
        best = e if best is None else min(best, e)
    return {"nproc": os.cpu_count(), "cpus_used": ctx.cpus,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "calib_sec": round(best, 4), "today": gen.TODAY.isoformat()}


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = _vm_hwm_kb(gw.proc.pid) if gw is not None and getattr(gw, "proc", None) else 0
    return (_vm_hwm_kb("self") + jvm) / 1024


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, min(len(ordered) - 1, int(round(q * len(ordered))) - 1))]


def measure(wl) -> dict:
    m = wl.run()
    calls = m["calls"]
    m["e2e"] = {
        "request_p50_ms": statistics.median(calls) * 1e3,
        "request_p90_ms": percentile(calls, 0.90) * 1e3,
        "unit_s": statistics.median(m["units"]),
    }
    return m


def run(args, untraced: dict | None) -> dict:
    """One run. In a traced run ``untraced`` holds the end-to-end values
    of an untraced child run of the same seed, or is None when the
    workload measures its untraced reference in this process."""
    from spans import SpanStats, Tracer, read_event_log, write_spans

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", args.workload)
    traced = bool(args.trace)
    event_log = os.path.join(work, "eventlog") if traced else None
    ctx = Ctx(seed=args.seed, cpus=cpus, work=work, tracer=Tracer())
    wl = _workloads()[args.workload](ctx)

    s = time.perf_counter()
    ctx.spark = start_session(ctx, event_log)
    session_s = time.perf_counter() - s
    steps = {"session": session_s}
    for step in ("generate", "stage", "warm_up"):
        if hasattr(wl, step):
            s = time.perf_counter()
            getattr(wl, step)()
            steps[step] = time.perf_counter() - s
    setup_s = sum(steps.values())
    host = host_context(ctx)
    _log(f"{wl.name}: setup {setup_s:.2f}s "
         + " ".join(f"{k}={v:.2f}s" for k, v in steps.items()) + f"; {host}")

    runs = []
    if traced and untraced is None:
        runs.append(measure(wl))
        untraced = runs[0]["e2e"]
    ctx.tracer.enabled = traced
    if traced and hasattr(wl, "instrument"):
        wl.instrument()
    m = measure(wl)
    runs.append(m)
    e2e = {"setup_s": (setup_s, "s"),
           "request_p50_ms": (m["e2e"]["request_p50_ms"], "ms"),
           "request_p90_ms": (m["e2e"]["request_p90_ms"], "ms"),
           "unit_s": (m["e2e"]["unit_s"], "s"),
           "peak_rss_mb": (peak_rss_mb(), "MB")}
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    problems = [p for r in runs for p in r["problems"]]
    artifact = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                "traced": traced, "host": host, "setup_steps": steps, "units": m["units"],
                "calls": [round(c, 4) for c in m["calls"][:300]],
                "extra": m["extra"], "problems": problems[:50],
                "e2e": {k: v for k, (v, _u) in e2e.items()}}
    _log(f"{wl.name}: " + ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items())
         + ", " + ", ".join(f"{k}={v:.4g}" for k, v in m["extra"].items()
                             if isinstance(v, (int, float))))
    metrics = e2e

    if traced:
        probe = wl.probe() if hasattr(wl, "probe") else {}
        # a probe may run checked queries of its own, one problem each
        attempted += probe.pop("attempted", 0)
        failed += len(probe.get("problems", []))
        problems += probe.pop("problems", [])
        ctx.tracer.enabled = False
        ctx.spark.stop()  # flushes the event log
        by_span = read_event_log(event_log)
        stats = SpanStats(ctx.tracer.spans, by_span)
        layers = {name: 0.0 for name in per_layer_names()}
        layers.update(wl.layers(stats, probe))
        units = stats.named(wl.unit_span)
        for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "scheduler_delay_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "result_bytes", "input_records"):
            layers[f"spark.{f}"] = stats.spark_total(units, f) / max(len(units), 1)
        layers["session.get_spark_s"] = session_s
        layers["spark.codegen_fallbacks"] = _codegen_fallbacks(work)
        layers["trace.overhead_unit_s"] = m["e2e"]["unit_s"] - untraced["unit_s"]
        layers["trace.overhead_request_p50_ms"] = \
            m["e2e"]["request_p50_ms"] - untraced["request_p50_ms"]
        layers["fail_ratio"] = failed / attempted
        write_spans(os.path.join(work, "spans.jsonl"), ctx.tracer.spans, by_span)
        units_of = {n["name"]: n["unit"] for n in _benchmark()["per_layer"]}
        metrics = {k: (v, units_of[k]) for k, v in layers.items() if k in units_of}
        artifact["layers"] = layers

    for p in problems[:20]:
        _log(f"WRONG: {p}")
    with open(os.path.join(HERE, ".work", f"{wl.name}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}


def untraced_run(args) -> dict:
    """The same workload and seed without tracing, in its own process, so
    both runs start cold; returns its end-to-end values."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True, cwd=ROOT)
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items()}


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def per_layer_names() -> list[str]:
    return [n["name"] for n in _benchmark()["per_layer"]]


def _codegen_fallbacks(work: str) -> int:
    """'Failed to compile' lines the JVM logged during this run."""
    with open(os.path.join(work, "stderr.log"), errors="replace") as fh:
        return sum("Failed to compile" in line for line in fh)


def shutdown() -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_nightly", "report_page"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    untraced = None
    if args.trace and _workloads()[args.workload].cold_units:
        try:
            untraced = untraced_run(args)
        except Exception:  # noqa: BLE001 - no untraced figures, no result
            traceback.print_exc()
            return 1
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # The JVM inherits fd 2: its log goes to a file that the traced run
    # scans for codegen fallbacks; this process keeps the real stderr.
    saved = os.dup(2)
    log = os.open(os.path.join(work, "stderr.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log, 2)
    sys.stderr = os.fdopen(saved, "w", buffering=1)
    try:
        result = run(args, untraced)
    except Exception:  # noqa: BLE001 - any failure means no result line
        traceback.print_exc()
        return 1
    finally:
        try:
            shutdown()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
        for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
