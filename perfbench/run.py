"""CDC ingest benchmark: one workload per invocation.

    python3 perfbench/run.py --workload tail_small --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is one compact JSON
object: correct, attempted, failed and metrics (the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``). Raw
per-operation times, and the spans of a traced run, go to a sidecar file
under ``.perfbench/results/``. Scratch data lives under
``.perfbench/work-*`` and is removed at exit. Exits 2 without a result
when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time), so set-up
    time covers interpreter start and imports too."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched (and with it
    the Python worker daemon), and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _fmt(v: float) -> float:
    return float(f"{v:.6g}")


def main(argv: list[str]) -> int:
    t_start = time.perf_counter() - _process_age_s()
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ethereum_etl_spark")):
        print(f"engine package ethereum_etl_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout: WAL, tables,
    # Spark's block manager and temp files, the gateway's temp files
    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Spark's Python workers import the engine (the daemon module
    # ethereum_etl_spark.daemon_preload and the UDFs) from PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))

    from spans import Tracer, install_layer_spans, layer_metrics, spark_stages

    tracer = Tracer() if args.trace else None
    spark = None
    try:
        from ethereum_etl_spark.session import get_spark

        t0 = time.perf_counter()
        # Engine confs are get_spark's own, as the CLI uses them. The
        # extras only place JVM temp files in the work dir, silence the
        # progress bar and fix the young generation: with G1 sizing it
        # adaptively, peak RSS varied by a third between identical runs
        # (it tracks GC pause times on a shared host); at 1 GB it repeats
        # within 1% and apply speed did not move in interleaved runs.
        spark = get_spark(
            cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn1g",
            },
        )
        session_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.sc = spark.sparkContext
            install_layer_spans(tracer)
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        w.build()
        setup_s = time.perf_counter() - t_start
        first_span = len(tracer.spans) if tracer is not None else 0
        t_drive = time.perf_counter()
        w.drive()
        t_finish = time.perf_counter()
        end = w.finish()
        phases = {"setup": setup_s, "drive": t_finish - t_drive, "finish": time.perf_counter() - t_finish}
        jvm_pid = spark.sparkContext._gateway.proc.pid
        import resource

        rss_jvm = _rss_mb(jvm_pid)
        rss_py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        rss = rss_jvm + rss_py
        metrics = {
            "setup_s": (setup_s, "s"),
            **w.end_to_end(end["table_bytes"], end["live_rows"]),
            "peak_rss_mb": (rss, "MB"),
        }
        side = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "cores": cores, "session_s": session_s, "phases": phases,
            "rss_mb": {"jvm": rss_jvm, "python": rss_py}, "errors": w.errors,
            "end_to_end": {k: v[0] for k, v in metrics.items()}, "raw": w.raw(),
        }
        if tracer is not None:
            tracer.uninstall()
            layers, extra = layer_metrics(
                tracer, first_span, spark_stages(spark.sparkContext), w, end, cores, session_s
            )
            side["per_layer"] = {k: v[0] for k, v in layers.items()}
            side["per_layer_extra"] = extra
            side["spans"] = tracer.dump()
            metrics = layers
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
    side_path = os.path.join(out_root, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side_path, "w") as f:
        json.dump(side, f, default=str)
    for e in w.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    result = {
        "correct": not w.errors,
        "attempted": w.attempted(),
        "failed": 0,
        "metrics": {k: {"value": _fmt(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
