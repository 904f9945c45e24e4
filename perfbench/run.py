"""File-drop benchmark: CSV drops through ``orchestrator.run_pipeline``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload entity_delta --seed 1 --seconds 15 --trace 0

One process builds a ``local[nproc]`` session, sends warm-up drops to a
throwaway namespace, then sends the workload's drops one at a time (a
closed loop with one client, as a dataset's drops run in sequence) and
checks every drop's output against DuckDB.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps each layer's public functions in
spans, enables the Spark event log and reports the per-layer split.
The last line of standard output is one JSON object.
"""

from __future__ import annotations

import time

START = time.time()  # setup_s counts from here

# ruff: noqa: E402
import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import workloads as wl
from eventlog import LAYER_UNITS, layer_split, read_jobs
from spans import LAYERS, Tracer

WORKLOADS = {"entity_delta": "delta", "entity_iceberg": "iceberg"}
# A run measures round(seconds / DROP_S) incremental drops, so its work
# depends only on its arguments, never on how fast the program goes.
DROP_S = 5
DROP_ROWS = 2_000
WARM_ROWS = 50
WARM_DROPS = 2   # the first creates the tables, the second MERGEs
ENTITY_PERSONS = 20_000

END_TO_END_UNITS = {"setup_s": "s", "drop_latency_p50_s": "s",
                    "late_drop_latency_s": "s", "rows_per_s": "rows/s",
                    "stored_bytes_per_input_byte": "ratio",
                    "peak_rss_mb": "MiB"}
TOTAL_UNITS = {"spark.shuffle_read_bytes": "bytes",
               "spark.shuffle_write_bytes": "bytes",
               "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
               "spark.output_bytes": "bytes", "spark.gc_s": "s",
               "spark.failed_tasks": "count", "spark.jobs": "count",
               "spark.unattributed_jobs": "count",
               "tables.data_files": "count", "tables.metadata_bytes": "bytes",
               "tables.snapshots": "count"}


def build_workload(name: str, seed: int, seconds: int, database: str,
                   warm: bool, redeliver: bool = False) -> wl.Workload:
    """The initial load and the measured drops, then with ``redeliver``
    one re-delivery of the last of them; or the small warm-up drops for
    ``warm``."""
    if warm:
        return wl.entity_workload(WORK, seed, database, WORKLOADS[name],
                                  WARM_DROPS, WARM_ROWS, 2 * WARM_ROWS,
                                  redeliver_last=False)
    drops = 1 + max(1, round(seconds / DROP_S))
    return wl.entity_workload(WORK, seed, database, WORKLOADS[name], drops,
                              DROP_ROWS, ENTITY_PERSONS,
                              redeliver_last=redeliver)


def _mem_total_kib() -> int:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal not in /proc/meminfo")


def _vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True,
                         text=True, check=False).stderr
    return out.splitlines()[0] if out else "unknown"


def start_session(cores: int, trace: bool):
    """``local[cores]`` session with the heap sized from the host; every
    scratch, warehouse and log directory stays under the work dir."""
    from aws_insurancelake_etl_spark.session import build_session  # noqa: PLC0415

    tmp = os.path.join(WORK, "tmp")
    confs = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return build_session(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        warehouse_dir=os.path.join(WORK, "warehouse"), extra_confs=confs)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def table_stats(warehouse: str, database: str) -> dict:
    """Files and bytes of the workload's zone tables.  Metadata is
    everything under ``_delta_log`` and iceberg ``metadata`` dirs; a
    snapshot is a delta commit file or an iceberg manifest list."""
    stats = {"stored_bytes": 0, "data_files": 0, "metadata_bytes": 0,
             "snapshots": 0}
    for entry in os.listdir(warehouse):
        if entry.split(".")[0] not in (database, f"{database}_consume"):
            continue
        for dirpath, _, files in os.walk(os.path.join(warehouse, entry)):
            parts = dirpath.split(os.sep)
            meta = "_delta_log" in parts or "metadata" in parts
            for f in files:
                size = os.path.getsize(os.path.join(dirpath, f))
                stats["stored_bytes"] += size
                if meta:
                    stats["metadata_bytes"] += size
                    if (f.endswith(".json") and f[:-5].isdigit()) or (
                            f.startswith("snap-") and f.endswith(".avro")):
                        stats["snapshots"] += 1
                elif f.endswith(".parquet"):
                    stats["data_files"] += 1
    return stats


def run_drops(spark, workload: wl.Workload, first: int, last: int,
              landing: str, config: str, tracer=None, checker=None,
              log=print):
    """Closed loop over ``workload.drops[first:last]``: each drop starts
    when the previous one returned.  Returns ``(drop, seconds)`` for the
    drops that succeeded and passed their check, and the number that
    failed."""
    from aws_insurancelake_etl_spark.orchestrator import run_pipeline  # noqa: PLC0415

    done: list[tuple[wl.Drop, float]] = []
    failed = 0
    for i, drop in enumerate(workload.drops[first:last], first):
        if tracer is not None:
            tracer.active = True
        t0 = time.perf_counter()
        try:
            summary = run_pipeline(
                spark, drop.path, landing, config,
                entitymatch_spec=workload.entitymatch_spec,
                table_format=workload.table_format)
        except Exception:  # a failed drop is counted, the loop goes on
            traceback.print_exc()
            failed += 1
            continue
        finally:
            elapsed = time.perf_counter() - t0
            if tracer is not None:
                tracer.active = False
        try:
            problems = (checker.check(drop, summary["execution_id"])
                        if checker is not None else [])
        except Exception as exc:  # e.g. a zone table that is missing
            problems = [f"check raised {exc!r}"]
        if problems:
            failed += 1
            log(f"drop {i}: check FAILED: {'; '.join(problems)}")
            continue
        done.append((drop, elapsed))
        log(f"drop {i}: {elapsed:.3f} s, {drop.rows} rows"
            f"{' (re-delivery)' if drop.redelivery else ''}, check ok")
    return done, failed


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("aws_insurancelake_etl_spark") is None:
        print("aws_insurancelake_etl_spark is not importable from "
              f"{ROOT}; run from the repository root", file=sys.stderr)
        return 2

    def log(msg: str) -> None:
        print(msg, flush=True)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(os.path.join(WORK, "eventlog"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    cores = os.cpu_count() or 1
    mem_kib = _mem_total_kib()
    heap_gib = max(1, min(8, mem_kib // (4 * 1024 * 1024)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{heap_gib}g")

    t_gen = time.time()
    database = "bench"
    warm = build_workload(args.workload, args.seed + 1, args.seconds,
                          "warmup", warm=True)
    # the re-delivery is in no end-to-end metric, so only the traced run
    # pays for it: it checks it and splits its delete path into layers
    workload = build_workload(args.workload, args.seed, args.seconds,
                              database, warm=False, redeliver=trace)
    gen_s = time.time() - t_gen
    landing = os.path.join(WORK, "landing")
    config = os.path.join(WORK, "config")

    import pyspark  # noqa: PLC0415

    spark = start_session(cores, trace)
    try:
        # Spark work outside the measured drops is kept apart
        spark.sparkContext.setJobGroup(Tracer.idle_group, "perfbench")
        session_s = time.time() - START - gen_s
        _, warm_failed = run_drops(spark, warm, 0, WARM_DROPS, landing,
                                   config, log=lambda _m: None)
        if warm_failed:
            raise RuntimeError(f"{warm_failed} warm-up drop(s) failed")
        warm_s = time.time() - START - gen_s - session_s
        from check import Checker  # noqa: PLC0415

        checker = Checker(spark, workload)
        try:
            # the initial load creates the zone tables and the primary;
            # every measured drop after it is an incremental MERGE drop
            _, failed = run_drops(spark, workload, 0, 1, landing, config,
                                  checker=checker, log=log)
            setup_s = time.time() - START - gen_s
            log(f"setup: session {session_s:.3f} s, warm-up drops "
                f"{warm_s:.3f} s, initial load "
                f"{setup_s - session_s - warm_s:.3f} s, input generation "
                f"{gen_s:.3f} s (not in setup_s)")
            tracer = None
            if trace:
                tracer = Tracer(spark.sparkContext)
                tracer.install()
            t_window = time.time()
            done, failed_measured = run_drops(
                spark, workload, 1, len(workload.drops), landing, config,
                tracer, checker, log)
            failed += failed_measured
        finally:
            checker.close()
        window = (t_window, time.time())
        from pyspark import SparkContext  # noqa: PLC0415

        jvm_pid = SparkContext._gateway.proc.pid
        peak_kib = _vm_hwm_kib(jvm_pid) + _vm_hwm_kib("self")
        tables = table_stats(os.path.join(WORK, "warehouse"), database)
        fingerprint = {
            "nproc": cores, "mem_total_kib": mem_kib,
            "spark": pyspark.__version__, "java": _java_version(),
            "python": platform.python_version(),
            "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "shuffle_partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"),
            "seed": args.seed, "seconds": args.seconds,
            "workload": args.workload, "trace": args.trace,
            "drops": len(workload.drops), "input_gen_s": round(gen_s, 3),
        }
    finally:
        stop_session(spark)

    attempted = len(workload.drops)
    # the re-delivery takes the delete-then-MERGE path: timed apart
    redelivered = [seconds for drop, seconds in done if drop.redelivery]
    done = [(drop, seconds) for drop, seconds in done if not drop.redelivery]
    latencies = [seconds for _, seconds in done]
    input_rows = sum(drop.rows for drop, _ in done)
    input_bytes = sum(d.bytes for d in workload.drops)
    late = latencies[len(latencies) // 2:]
    e2e = {
        "setup_s": setup_s,
        "drop_latency_p50_s": statistics.median(latencies) if latencies else 0.0,
        "late_drop_latency_s": statistics.median(late) if late else 0.0,
        "rows_per_s": input_rows / sum(latencies) if latencies else 0.0,
        "stored_bytes_per_input_byte": tables["stored_bytes"] / input_bytes,
        "peak_rss_mb": peak_kib / 1024.0,
    }
    log("fingerprint " + json.dumps(fingerprint, sort_keys=True))
    log(f"drops attempted={attempted} failed={failed} "
        f"failed_drop_ratio={failed / attempted:.4f} "
        f"latency samples={len(latencies)} late samples={len(late)}")
    if redelivered:
        log(f"re-delivery latency (in no metric): {redelivered[0]:.3f} s")
    for name, value in e2e.items():
        log(f"metric {name} = {value:.6g} {END_TO_END_UNITS[name]}")
    log("output check: " + ("ok" if failed == 0 else "FAILED"))

    if trace:
        jobs = read_jobs(os.path.join(WORK, "eventlog"))
        layers, totals = layer_split(
            tracer.spans, jobs, list(LAYERS), window,
            ignored_groups=(Tracer.idle_group,))
        metrics = {}
        for layer, row in layers.items():
            for field, unit in LAYER_UNITS.items():
                metrics[f"{layer}.{field}"] = {"value": row[field],
                                               "unit": unit}
        values = {f"spark.{k}": v for k, v in totals.items()}
        values.update({f"tables.{k}": tables[k] for k in
                       ("data_files", "metadata_bytes", "snapshots")})
        for name, unit in TOTAL_UNITS.items():
            metrics[name] = {"value": values[name], "unit": unit}
        for name, m in metrics.items():
            log(f"metric {name} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {name: {"value": value, "unit": END_TO_END_UNITS[name]}
                   for name, value in e2e.items()}
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
