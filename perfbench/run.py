"""Benchmark driver for the streaming detection engine.

    python3 perfbench/run.py --workload {live,query} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Each run starts its own Spark session
(``local[4]``, one client thread) through the package's ``get_spark``,
works in a fresh scratch root under ``.perfbench_run/`` that it removes
at exit, and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. The line before it (``# detail``) records the seed, the
sample counts and the per-class figures behind the metrics. Traced runs
write their spans to ``.perfbench_traces/``.

Exits non-zero without a result line when the package cannot be
imported or a workload fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "rss_peak_mb": "MB",
    "write_frames_per_s": "frames/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}


def per_layer_names() -> dict[str, str]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("live", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    return ap.parse_args(argv)


def start_session(root: str, workload: str):
    """The package's session factory, with every path it writes inside
    the run's scratch root."""
    from video_streamer_spark.session import get_spark

    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": f"{root}/warehouse",
            "spark.local.dir": f"{root}/local",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the workers it owns) to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait(timeout=30)


def percentile(xs: list[float], q: float) -> float:
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1]) \
        if len(xs) > 1 else float(xs[0])


def main(argv: list[str]) -> int:
    args = parse(argv)
    sys.path.insert(0, CHECKOUT)
    try:
        import video_streamer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}", file=sys.stderr)
        return 2

    from pyspark import cloudpickle

    import workloads as W
    from tracing import GatewayCounter, RssSampler, Tracer

    # the traced run's model loader lives in ``workloads`` and must reach
    # the Python workers by value
    cloudpickle.register_pickle_by_value(W)

    root = os.path.join(CHECKOUT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    # every JVM started here (the launcher and the driver) keeps its temp
    # files in the scratch root and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={root}/tmp -XX:-UsePerfData")
    sampler = RssSampler().start()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.time()
        with tracer.span("session", "session"):
            spark = start_session(root, args.workload)
        session_s = time.time() - t0
        gateway = GatewayCounter(spark) if args.trace else None
        from video_streamer_spark.operators.table_format import rebases_fired

        rebases0 = rebases_fired()
        b = W.Bench(spark=spark, tracer=tracer, gateway=gateway,
                    sampler=sampler, sizes=W.TINY if args.tiny else W.Sizes(),
                    seed=args.seed, seconds=args.seconds, root=root)
        res = W.live(b) if args.workload == "live" else W.query(b)
        b.layer["table_format.occ_rebases"] = rebases_fired() - rebases0
        b.layer["session.start_s"] = session_s
        if gateway is not None:
            gateway.close()
    finally:
        sampler.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass

    lat = sorted(res.latencies)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "window_s": round(res.window_s, 4), "samples": len(lat),
        "failed_frac": res.failed / max(1, res.attempted),
        "write_frames_per_s": res.write_fps,
        "rss_jvm_mb": round(sampler.peak_jvm_kb / 1024.0, 1),
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
        **res.detail,
    }
    if args.trace:
        spans = tracer.spans
        window = next(s for s in spans if s["name"] == "window")
        for layer, v in tracer.self_time_by_layer(window).items():
            b.layer[f"self.{layer}_s"] = v
        b.layer["trace.coverage"] = tracer.coverage(window)
        b.layer["trace.spans"] = len(spans)
        out_dir = os.path.join(CHECKOUT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{args.workload}-{args.seed}.jsonl"))
        units = per_layer_names()
        metrics = {k: {"value": float(b.layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        detail["unlisted_layer_metrics"] = sorted(set(b.layer) - set(units))
    else:
        values = {"setup_s": res.setup_end - T_PROCESS,
                  "rss_peak_mb": sampler.peak_kb / 1024.0,
                  **{k: detail[k] for k in END_TO_END if k in detail}}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
