"""lakeview benchmark: one closed-loop, single-client workload per invocation.

    python3 perfbench/run.py --workload mor_mixed --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py): ``mor_mixed`` and ``query_suite`` are the ones
``BENCHMARK.json`` lists; ``cow_ingest`` runs the same way but is left out of
it to keep the whole set of runs inside its time budget. Inputs are generated
from ``--seed`` inside ``perfbench/.work`` and every output is checked against
an independent DuckDB/numpy oracle.

Prints a host block, every applicable metric with its unit, sample count and
percentile, and as the last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. The traced run also writes its spans and every per-layer
metric to ``perfbench/out/`` and reports its overhead against the untraced
run of the same workload and seed when one is there.

``--smoke`` runs every workload in both trace modes at the smallest scale and
fails unless each run passes its checks and emits every named metric.

Exits non-zero when a correctness check fails or a metric is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("cow_ingest", "mor_mixed", "query_suite")
HEAP = "1g"

#: per-workload sizes: base table rows and warm-up commits for the ingest
#: workloads, generated scale factor for the query suite
SIZES = {
    "full": {"cow_rows": 30_000, "cow_warmup": 2, "mor_rows": 15_000, "mor_warmup": 2,
             "sf": 0.001},
    "smoke": {"cow_rows": 6_000, "cow_warmup": 1, "mor_rows": 6_000, "mor_warmup": 1,
              "sf": 0.001},
}
#: a cow_ingest cycle (one commit and one aggregate) is shorter than the
#: nominal round of the other workloads
COW_ROUND_S = 1.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Pin Spark's width to this host and keep every file inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    from hudi_examples_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # a fixed-size heap: no run-to-run difference in how far the heap grew
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=10)


def host_block(spark, load_start: float) -> dict:
    import pyspark

    jvm = spark.sparkContext._gateway.jvm
    return {
        "nproc": nproc(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
    }


def build(name: str, spark, seed: int, seconds: float, sizes: dict, tracer):
    import workloads

    work = os.path.join(WORK, "run")
    if name == "cow_ingest":
        return workloads.Ingest(spark, work, seed, seconds, "cow", sizes["cow_rows"],
                                sizes["cow_warmup"], reads=False, tracer=tracer,
                                round_s=COW_ROUND_S)
    if name == "mor_mixed":
        return workloads.Ingest(spark, work, seed, seconds, "mor", sizes["mor_rows"],
                                sizes["mor_warmup"], reads=True, tracer=tracer)
    return workloads.QuerySuite(spark, work, seed, seconds, sizes["sf"], tracer=tracer)


def end_to_end(w, setup_s: float, peak_rss: int) -> dict:
    from workloads import geomean

    n_ops = sum(len(v) for v in w.lat.values())
    return {
        "setup_s": (setup_s, "s"),
        "op_geomean_s": (geomean([statistics.median(v) for v in w.lat.values()]), "s"),
        "cpu_s_per_op": (w.window_cpu_s / n_ops if n_ops else 0.0, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def listed_metrics(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def run_one(args) -> int:
    prepare_env()
    if importlib.util.find_spec("hudi_examples_spark") is None:
        print(f"error: engine package hudi_examples_spark not found under {ROOT}", file=sys.stderr)
        return 2
    import layers
    from tracing import MemSampler, NullTracer, StatusCollector, Tracer

    load_start = os.getloadavg()[0]
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "run"))
    sizes = SIZES[args.scale]
    with MemSampler() as mem:
        t = time.perf_counter()
        spark = start_spark()
        session_s = time.perf_counter() - t
        try:
            sc = spark.sparkContext
            run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
            tracer = Tracer(sc, run_id) if args.trace else NullTracer()
            w = build(args.workload, spark, args.seed, args.seconds, sizes, tracer)
            w.setup()
            setup_s = time.perf_counter() - T_START - w.setup_repeat_extra
            w.run()
            peak, rss_by_process = mem.peak, mem.by_process()
            t = time.perf_counter()
            w.verify()
            w.setup_parts["verify_s"] = time.perf_counter() - t
            host = host_block(spark, load_start)
            e2e = end_to_end(w, setup_s, peak)
            host["peak_rss_mb_by_process"] = rss_by_process
            per_layer = {}
            if args.trace:
                status = StatusCollector(sc)
                per_layer = layers.compute(w, tracer, status, session_s)
                for name, (v, n) in layers.seconds_per_call(w, tracer, status).items():
                    per_layer[name] = (v, "s", n)
                per_layer["trace.op_geomean_s"] = (e2e["op_geomean_s"][0], "s", len(w.lat))
        finally:
            stop_spark(spark)
    return emit(args, w, host, e2e, per_layer, session_s)


def emit(args, w, host, e2e, per_layer, session_s) -> int:
    print("host " + json.dumps(host))
    print(f"setup session_start_s={session_s:.4f} "
          + " ".join(f"{k}={v:.4f}" for k, v in w.setup_parts.items()))
    rows = [("setup_s", e2e["setup_s"][0], 1, None, "s")] + w.report() + [
        ("peak_rss_mb", e2e["peak_rss_mb"][0], 1, None, "MB"),
        ("error_rate", w.failed / w.attempted if w.attempted else 0.0, w.attempted, None, "ratio"),
    ]
    for name, value, n, p, unit in rows:
        print(f"metric {name} {value:.6g} {unit} n={n}" + (f" p={p:g}" if p is not None else ""))
    for name in ("op_geomean_s", "cpu_s_per_op"):
        value, unit = e2e[name]
        print(f"metric {name} {value:.6g} {unit} n={sum(len(v) for v in w.lat.values())}")
    for name, (value, unit, n) in sorted(per_layer.items()):
        print(f"layer {name} {value:.6g} {unit} n={n}")
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
               "window_s": w.window_s, "latencies_s": w.lat, "metrics": {r[0]: r[1] for r in rows},
               "end_to_end": {k: v[0] for k, v in e2e.items()},
               "per_layer": {k: v[0] for k, v in per_layer.items()},
               "errors": w.errors}
    os.makedirs(OUT, exist_ok=True)
    base = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
    if args.trace:
        w.tr.dump(base + "-spans.json", {"per_layer": summary["per_layer"]})
        try:
            with open(base + "-trace0.json") as f:
                untraced = json.load(f)["end_to_end"]["op_geomean_s"]
            over = per_layer["trace.op_geomean_s"][0] / untraced - 1.0
            print(f"trace overhead on op_geomean_s: {100 * over:+.1f}% "
                  f"(traced {per_layer['trace.op_geomean_s'][0]:.4f} s, untraced {untraced:.4f} s)")
        except (OSError, KeyError, ZeroDivisionError):
            print("trace overhead: no untraced run of this workload and seed to compare")
    with open(base + f"-trace{args.trace}.json", "w") as f:
        json.dump(summary, f, indent=1)
    for e in w.errors:
        print("CHECK FAILED: " + e, file=sys.stderr)
    correct = not w.errors
    available = {k: v[:2] for k, v in (per_layer if args.trace else e2e).items()}
    metrics, missing = {}, []
    for m in listed_metrics(args.trace):
        got = available.get(m["name"])
        if got is None or got[1] != m["unit"] or not math.isfinite(got[0]):
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": got[0], "unit": m["unit"]}
    for name in missing:
        print(f"error: metric {name} not measured", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": w.attempted, "failed": w.failed,
                      "metrics": metrics}))
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    return 0 if correct and not missing else 1


def smoke(args) -> int:
    """Every workload, both trace modes, smallest scale."""
    bad, seconds = 0, min(args.seconds, 4.0)
    for wl in WORKLOADS:
        for tr in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed",
                   str(args.seed), "--seconds", str(seconds), "--trace", str(tr),
                   "--scale", "smoke"]
            res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            last = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else ""
            ok = res.returncode == 0 and last.startswith("{") and json.loads(last)["correct"]
            bad += not ok
            print(f"smoke {wl} trace={tr}: {'ok' if ok else 'FAILED'} (exit {res.returncode})")
            if not ok:
                print(res.stdout[-2000:] + res.stderr[-4000:], file=sys.stderr)
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true", help="all workloads and trace modes, smallest scale")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke(args)
    if args.workload is None:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
