"""Composed-flow benchmark of the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 12 --trace 0

Workloads (see README.md): ``corpus_pipeline``, ``vector_search``.  The run generates its inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, sets the Spark session up
(``setup_s``: session start, module load, one warm-up pass), runs one closed-loop client for
``--seconds``, checks every output, and prints a report followed by one
JSON line.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
splits the time into an untraced half and a traced half, reports the
per-layer metrics and the tracing overhead, and writes the spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "sentiment_analysis_vector_search_spark"
FILES_PER_CORE = 2  # input files per core: one scan split each
DRIVER_MEM = "3g"  # the program's 24g default exceeds a 15 GiB host


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure(work: str, cores: int) -> None:
    """Deployment settings, and every scratch path inside the checkout."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp, from
    # either the spark-submit launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop(spark) -> None:
    """Stop the session and wait for the JVM the session started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()


def measure(wl, args) -> dict:
    from sentiment_analysis_vector_search_spark import registry
    from sentiment_analysis_vector_search_spark.session import get_spark

    from spans import Tracer

    tracer = Tracer(f"{args.workload}-seed{args.seed}", bool(args.trace))
    # set-up: session start, module load, one warm-up pass of the flow
    t0 = time.perf_counter()
    spark = get_spark()
    start = time.perf_counter() - t0
    try:
        registry.load_all_modules()
        wl.warm(spark)
        setup = time.perf_counter() - t0
        pid = spark._jvm.ProcessHandle.current().pid()
        splits = spark.read.parquet(os.path.join(wl.in_dir, wl.split_table)).rdd.getNumPartitions()
        layers = {}
        if args.trace:
            half = args.seconds / 2
            plain = wl.loop(spark, half, Tracer("", False), "u")
            tracer.bind(spark)
            with tracer.span("workload.loop") as outer:
                traced = wl.loop(spark, half, tracer, "t")
            ops = plain + traced
            layers = layer_metrics(wl, tracer, outer, spark, plain, traced, start)
        else:
            ops = wl.loop(spark, args.seconds, tracer, "m")
        rss = jvm_peak_rss_mb(pid)
        if args.trace:
            layers["jvm.peak_rss_mb"] = rss
    finally:
        stop(spark)
    return {"ops": ops, "setup": setup, "rss": rss, "splits": splits,
            "layers": layers, "tracer": tracer}


def per_layer(root: str) -> dict[str, str]:
    """per_layer metric name -> unit, from the benchmark's BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def layer_metrics(wl, tracer, outer, spark, plain, traced, start) -> dict:
    out = dict.fromkeys(per_layer(os.getcwd()), 0.0)
    out["session.start_s"] = start
    c = outer.counters
    out["spark.tasks"] = c["tasks"]
    out["spark.executor_cpu_s"] = c["cpu_s"]
    out["spark.shuffle_read_bytes"] = c["shuffle_read_bytes"]
    out["spark.shuffle_write_bytes"] = c["shuffle_write_bytes"]
    out["spark.spill_bytes"] = c["spill_bytes"]
    out["spark.gc_s"] = c["gc_s"]
    wl.layers(tracer, out, spark, traced)

    def mean_req(ops):
        xs = [o.seconds for o in ops]
        return sum(xs) / len(xs)

    out["trace.overhead_pct"] = 100 * (mean_req(traced) / mean_req(plain) - 1)
    return out


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: no {PKG}/ in {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(root, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        configure(work, cores)
        wl = WORKLOADS[args.workload](args.seed, work, root)
        props = wl.generate(FILES_PER_CORE * cores)
        res = measure(wl, args)
        ops = res["ops"]
        if args.trace:
            os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
            res["tracer"].dump(os.path.join(
                root, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"))
        wl.check(ops)
        rep = wl.report(ops)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(scratch) and not os.listdir(scratch):
            os.rmdir(scratch)
    failed = sum(not o.ok for o in ops)
    e2e = {
        "setup_s": (res["setup"], "s"),
        "rows_per_s": (rep["e2e"]["rows_per_s"], "rows/s"),
        "p50_ms": (rep["e2e"]["p50_ms"], "ms"),
        "ok_ratio": (1 - failed / len(ops), "ratio"),
    }
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"scan_splits {res['splits']} inputs {json.dumps(props)}")
    print(f"requests {len(ops)} failed {failed} failed_ratio {failed / len(ops):.4f}")
    print(f"jvm_peak_rss_mb {res['rss']:.1f} MB")
    for name, val in rep["named"].items():
        print(f"{name} " + ("n/a" if val is None else f"{val[0]:.6g} {val[1]}"))
    if args.trace:
        units = per_layer(root)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
        sel = res["tracer"].self_times()
        by = {}
        for s in res["tracer"].spans:
            if s.end is not None:
                by[s.name] = by.get(s.name, 0.0) + sel[s.idx]
        for name, t in sorted(by.items(), key=lambda kv: -kv[1])[:12]:
            print(f"self_s {name} {t:.3f}")
        print(f"tracing_overhead_pct {res['layers']['trace.overhead_pct']:.2f}")
    else:
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()}
        for k, v in e2e.items():
            print(f"{k} {v[0]:.6g} {v[1]}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
