"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The tables are the repo's fixtures,
copied under ``perfbench/fixtures/``; the seed drives everything else
(query order, the tx write stream, the PDF corpus). Derived inputs are
cached under ``.perfbench_cache/``; everything a run writes goes under
``.perfbench_out/``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it is the full report: the workload's own named metrics,
``error_rate``, the deterministic per-op counters and host noise.
``--size smoke`` runs the same workloads at sf0.001 for the
benchmark's own tests.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s",
             "latency_p50_s": "s", "peak_rss_mb": "MB"}


def _layer_units(name: str) -> str:
    if name.endswith("_bytes") or name == "tx.log_bytes":
        return "bytes"
    if name.endswith("_ms_per_doc"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name in ("tx.prune_ratio", "tx.write_amp"):
        return "ratio"
    return "count"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, still reaped
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N]; capped at the host's CPU count")
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--fail-span", default=None,
                    help="make the first measured entry of this span raise "
                         "(the benchmark's own failure-path test)")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import bow_hunter_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not found next to perfbench/: {e}", file=sys.stderr)
        return 2
    import workloads
    from harness import HostNoise, Recorder, jvm_hwm_mb, proc_status_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = max(1, min(args.cores, os.cpu_count() or 1))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    run_dir = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    from pyspark.sql import SparkSession  # noqa: F401 — timed as import

    t_imports = time.perf_counter() - T_START

    ctx = workloads.Context(args, os.path.join(ROOT, ".perfbench_cache"), run_dir)
    wl = workloads.WORKLOADS[args.workload]()
    noise = HostNoise()
    wl.prepare(ctx)  # input preparation: not part of setup_s
    gc.collect()
    # peak_rss_mb counts the driver Python's growth over this, so the
    # harness's own inputs are left out
    py_base_mb = proc_status_mb("VmRSS")

    from bow_hunter_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.enabled": "true" if args.trace else "false",
            "spark.local.dir": tmp_dir,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData -Xms2g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    try:
        ctx.spark = spark
        ctx.rec = rec = Recorder(spark, trace=bool(args.trace), fail_span=args.fail_span)
        t0 = time.perf_counter()
        with rec.span("session.warmup"):
            wl.setup(ctx)
        warmup_s = time.perf_counter() - t0

        t_loop = time.perf_counter()
        wl.run(ctx, time.time() + args.seconds)
        loop_s = time.perf_counter() - t_loop

        rss = jvm_hwm_mb(spark) + max(0.0, rec.py_rss_peak_mb - py_base_mb)
        wl.check(ctx)
        named, layer, throughput, latency = wl.metrics(ctx)
        if args.trace:
            rec.write_spans(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
    finally:
        _stop_spark(spark)

    failed = sum(1 for o in rec.ops if not o["ok"])
    attempted = len(rec.ops)
    e2e = {
        "setup_s": t_imports + get_spark_s + warmup_s,
        "throughput_per_s": throughput,
        "latency_p50_s": latency,
        "peak_rss_mb": rss,
    }
    per_layer = workloads.layer_zeros()
    per_layer.update(layer)
    per_layer.update(rec.spark_layer())
    per_layer["session.get_spark_s"] = get_spark_s
    per_layer["session.warmup_s"] = warmup_s
    if args.trace:
        # tracing's own cost: the REST reads between ops (the UI
        # listener's cost inside op walls shows as op_p50 trace 1 vs 0)
        per_layer["trace.overhead_s"] = rec.trace_s
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "cores": cores,
        "metrics": {**named, "error_rate": failed / attempted, **e2e},
        "per_layer": per_layer,
        "loop_s": loop_s,
        "errors": [o["error"] for o in rec.ops if not o["ok"]][:10],
        "counters": rec.counters(),
        "op_walls": [[o["seq"], o.get("query", o["kind"]), round(o["wall_s"], 4)]
                     for o in rec.ops],
        "host": noise.report(),
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(out_dir, f"report-{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, separators=(",", ":")))
    metrics = per_layer if args.trace else e2e
    units = _layer_units if args.trace else E2E_UNITS.get
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units(k)} for k, v in metrics.items()},
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
