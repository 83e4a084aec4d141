#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 18 --trace 0

Run from the root of a source checkout.  It starts one Spark driver on
``local[<cores>]``, generates the workload's inputs from ``--seed``, sets
up, measures about ``--seconds`` worth of work with one closed-loop client,
checks every operation against an oracle, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Everything it writes stays under ``.perfbench/`` in the
checkout; ``.perfbench/results/`` keeps each run's detail and, for traced
runs, the full per-layer profile.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_HEAP = "3g"  # fits a 15 GB host shared with other work


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _calibrate_cpu() -> float:
    """Seconds for a fixed pure-Python loop: a busy host inflates it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i
    return time.perf_counter() - t0


def _calibrate_io(work: str) -> float:
    """Seconds to write, fsync and read back 32 MB in the work directory."""
    path = os.path.join(work, "io_calibration.bin")
    buf = b"\x5a" * (4 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(8):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    with open(path, "rb") as f:
        while f.read(4 << 20):
            pass
    os.unlink(path)
    return time.perf_counter() - t0


def _cpu_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (``steal`` in /proc/stat): its growth over a run shows a busy host."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _environment(work: str) -> dict:
    return {
        "loadavg": list(os.getloadavg()),
        "cpu_steal_s": _cpu_steal_s(),
        "cpu_calibration_s": _calibrate_cpu(),
        "io_calibration_s": _calibrate_io(work),
    }


def start_spark(work: str, trace: bool):
    """The engine's session factory with the benchmark's runner settings."""
    from solr_map_reduce_spark.session import get_spark

    cores = _cores()
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -Djava.io.tmpdir={work}/tmp "
            f"-Dderby.system.home={work}/derby"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _pct(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(res, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    lat_ms = [op.seconds * 1000.0 for op in res.ops]
    busy = sum(op.seconds for op in res.ops)
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat_ms),
        "op_p90_ms": _pct(lat_ms, 90),
        "throughput_per_s": res.work_items / busy,
        "peak_rss_mb": peak_rss_mb,
        "stored_bytes_per_input_byte": res.stored_bytes / res.input_bytes,
    }


def _per_layer(spec: dict, flat: dict[str, float], workload_cls, res) -> dict[str, float]:
    """The per-layer metrics of ``spec`` from a traced run's profile.

    Every span and ratio the workload declares must have been recorded;
    each one that was not counts as a failed check, so a wrapper that stops
    firing cannot pass as a layer the workload never uses.  A metric of a
    span or ratio that only another workload declares reads 0: the result
    line must carry every per-layer metric.  A metric no workload declares
    also counts as a failed check."""
    from perfbench import workloads

    ratios = {r for w in workloads.WORKLOADS.values() for r in w.RATIOS}
    others = {
        name for w in workloads.WORKLOADS.values() if w is not workload_cls
        for name in w.SPANS + w.RATIOS
    }
    res.attempted += 1
    missing = [s for s in workload_cls.SPANS if flat.get(f"{s}.calls", 0) == 0]
    missing += [r for r in workload_cls.RATIOS if r not in flat]
    values: dict[str, float] = {}
    for m in spec["per_layer"]:
        name = m["name"]
        owner = name if name in ratios else name.rsplit(".", 1)[0]
        if name in flat:
            values[name] = flat[name]
        else:
            values[name] = 0
            if owner not in others and owner not in missing:
                missing.append(owner)
    if missing:
        res.errors.append(f"traced run recorded no {', '.join(missing)}")
    return values


def _peak_rss_mb() -> float:
    """Largest resident set of this process or any child it waited for
    (the Spark JVM, once stopped)."""
    kb = max(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
        resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss,
    )
    return kb / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "solr_map_reduce_spark")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # the Python driver, its Spark workers and the oracles agree on UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(bench_dir, "results")
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        return _run(args, spec, workloads.WORKLOADS[args.workload], work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, workload_cls, work: str, results: str) -> int:
    from perfbench.tracing import Tracer, layer_profile, read_event_log

    trace = bool(args.trace)
    env_start = _environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, trace)
        session_s = time.perf_counter() - t0
        tracer = Tracer(sc=spark.sparkContext)
        if trace:
            tracer.install()
        wl = workload_cls(spark, args.seed, work, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        tracer.enabled = trace
        res = wl.run(args.seconds)
        tracer.enabled = False
        wl.verify(res)
    except Exception:
        traceback.print_exc()
        print("perfbench: setup or run failed; no result", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)

    e2e = end_to_end(res, setup_s, _peak_rss_mb())
    env_end = _environment(work)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": _cores(), "driver_heap": DRIVER_HEAP,
        "env_start": env_start, "env_end": env_end,
        "steal_s": env_end["cpu_steal_s"] - env_start["cpu_steal_s"],
        "setup_steps": {"session_start": session_s, **wl.setup_steps},
        "end_to_end": e2e, "ops": res.op_summary(), "errors": res.errors,
    }
    tag = f"{args.workload}-seed{args.seed}"
    if trace:
        profile = layer_profile(tracer.spans, read_event_log(f"{work}/eventlog"))
        ratios = res.ratios(profile)
        detail["layers"] = profile
        detail["ratios"] = ratios
        flat = {f"{span}.{c}": v for span, row in profile.items() for c, v in row.items()}
        flat.update(ratios)
        # tracing overhead: this run's end-to-end numbers minus the latest
        # untraced run of the same workload and seed, when there is one
        base_path = os.path.join(results, f"{tag}-trace0.json")
        if os.path.exists(base_path):
            with open(base_path, encoding="utf-8") as f:
                base = json.load(f)["end_to_end"]
            detail["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
        values = _per_layer(spec, flat, workload_cls, res)
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w",
              encoding="utf-8") as f:
        json.dump(detail, f, indent=1)
    print(res.summary(e2e, detail.get("tracing_overhead")), file=sys.stderr)
    print(json.dumps({
        "correct": not res.errors,
        "attempted": res.attempted,
        "failed": len(res.errors),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
