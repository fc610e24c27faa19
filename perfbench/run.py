#!/usr/bin/env python3
"""Benchmark for printer_etl_hub_spark.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 15 --trace 0

Paths resolve from this file, so any working directory works. Generates
the workload's inputs from the seed, sets up the engine once from a fresh
process (``setup_s``), runs a cold pass, a warm-up pass and then the
measured passes that ``--seconds`` asks for, checks every output
against its oracle, prints a readable report, and prints as the last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``).

Everything it writes stays under ``.perfbench_work/`` (removed at exit)
and ``.perfbench_out/`` (span files of traced runs) in the repository.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("queries", "poll_ingest")
#: Corpus scale factor (lineitem 60k rows, documents 500).
SF = 0.01
FLEET_DEVICES = 20_000
BAD_IP_FRAC = 0.05


def host_settings(work: str) -> dict[str, str]:
    """Launch settings sized from this host, independent of the working
    directory: all cores, a quarter of RAM (at most 4 GiB) for the driver,
    the repository on the Python workers' path, scratch under ``work``."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    local = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    return {
        "SPARK_MASTER": f"local[{cores}]",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{min(4096, total_mb // 4)}m",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": os.path.join(work, "tmp"),
    }


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job and progress report of a run for the counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def setup(workload: str, tracer, work: str, inputs: str):
    """Import, session, string-function warm-up, then the workload's data:
    the corpus tables, or the printer inventory (good IPs, cached)."""
    with tracer.span("session.import"):
        from pyspark.sql import functions as F

        import printer_etl_hub_spark.plans  # noqa: F401  (the query registry)
        from printer_etl_hub_spark.session import get_spark
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=spark_conf(work))
    with tracer.span("session.warmup"):
        spark.range(1).select(
            F.lower(F.lit("WARMUP")), F.md5(F.lit("x")),
            F.regexp_replace(F.lit("a b"), r"\s+", " "),
        ).collect()
    if workload == "poll_ingest":
        from printer_etl_hub_spark.functions.normalize import is_bad_value
        from printer_etl_hub_spark.sources.json_store import load_printers_json

        with tracer.span("sources.inventory_load"):
            fleet = (load_printers_json(spark, inputs)
                     .filter(~is_bad_value(F.col("Printer IP")))
                     .select(F.col("Printer IP").alias("ip")).cache())
            fleet.count()
        return spark, fleet
    from printer_etl_hub_spark.tables import load_tables

    with tracer.span("tables.load_tables"):
        load_tables(spark, inputs)
    return spark, None


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
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
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_metric_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus", help="queries: run on this existing corpus directory "
                    "(read only) instead of one generated from the seed")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("printer_etl_hub_spark") is None:
        print(f"printer_etl_hub_spark not found under {ROOT}", file=sys.stderr)
        return 2
    spec = load_metric_spec()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    settings = host_settings(work)
    for d in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(settings)
    try:
        return run(args, spec, run_id, work, settings)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, run_id: str, work: str, settings: dict) -> int:
    from perfbench import datagen
    from perfbench.tracing import Tracer, dur, jvm_peak_rss_mb
    from perfbench.workloads import QUERIES, PollWorkload, QueryWorkload

    phases = {"start": time.perf_counter()}
    tracer = Tracer(run_id, enabled=bool(args.trace))
    cores = int(settings["SPARK_GRAFT_CPUS"])
    if args.workload == "poll_ingest":
        inputs = os.path.join(work, "printers.json")
        good_ips = datagen.make_fleet(inputs, args.seed, FLEET_DEVICES, BAD_IP_FRAC)
    elif args.corpus:
        inputs = os.path.abspath(args.corpus)
    else:
        inputs = os.path.join(work, "corpus")
        datagen.make_corpus(inputs, args.seed, SF)

    phases["inputs"] = time.perf_counter()
    spark = wl = None
    try:
        with tracer.span("bench.setup"):
            spark, fleet = setup(args.workload, tracer, work, inputs)
        phases["setup"] = time.perf_counter()
        if args.workload == "poll_ingest":
            wl = PollWorkload(spark, fleet, good_ips, args.seed, work, tracer)
        else:
            wl = QueryWorkload(spark, QUERIES, inputs, tracer)
        wl.cold_pass()
        phases["cold"] = time.perf_counter()
        wl.warm(args.seconds, alternate_trace=bool(args.trace))
        phases["warm"] = time.perf_counter()
        e2e = wl.end_to_end()
        e2e["setup_s"] = (phases["setup"] - phases["inputs"], 1)
        layers = wl.per_layer(cores) if args.trace else {}
        layers["session.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        if isinstance(wl, PollWorkload):
            layers.update(wl.poll_metrics())
            wl.stop()  # no batch runs after this: the state is final
        phases["counters"] = time.perf_counter()
        bad = wl.check()
        phases["check"] = time.perf_counter()
    finally:
        if isinstance(wl, PollWorkload):
            wl.stop()
        if spark is not None:
            stop_spark(spark)
    phases["stop"] = time.perf_counter()

    if args.trace:
        def span_s(name):
            spans = tracer.named(name)
            return dur(spans[0]) if spans else 0.0
        layers["session.get_spark_s"] = span_s("session.get_spark")
        layers["tables.load_tables_s"] = span_s("tables.load_tables")
        layers["sources.inventory_load_s"] = span_s("sources.inventory_load")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{run_id}.jsonl"))

    failed = wl.failed + len(bad)
    attempted = wl.attempted
    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} master={settings['SPARK_MASTER']} "
          f"driver_memory={settings['SPARK_DRIVER_MEMORY']}")
    marks = list(phases.items())
    print("# phase seconds: " + " ".join(
        f"{b[0]}={b[1] - a[1]:.2f}" for a, b in zip(marks, marks[1:])))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, (value, n) in sorted(e2e.items()):
        print(f"# {name} {value:.6g} {units.get(name, '')} n={n}")
    for name, value in sorted(wl.detail().items()):
        print(f"# {name} {value}")
    for name, value in sorted(layers.items()):
        print(f"# {name} {value:.6g} {units.get(name, '')}")
    checked = len(getattr(wl, "results", {})) or 1
    print(f"# oracle: {checked - len(bad)}/{checked} outputs match"
          + "".join(f"\n# MISMATCH {k}: {v}" for k, v in sorted(bad.items()))
          + "".join(f"\n# ERROR {k}: {v}" for k, v in sorted(getattr(wl, "errors", {}).items())))
    print(f"# fail_frac {failed / attempted:.6g} ({failed}/{attempted})")

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = {n: layers.get(n, 0.0) for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = {n: e2e[n][0] for n in names}
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
