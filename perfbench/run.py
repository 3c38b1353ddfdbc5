"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 1 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

- ``cdc_sync``    the paper's CDC polling path (``perfbench/cdc.py``)
- ``ml_queries``  one registry query per ML operator module
  (``perfbench/mlq.py``)

One Python process drives one local Spark JVM (``local[nproc]``, shuffle
partitions = nproc, driver heap a quarter of MemTotal), closed loop with
one client. Inputs are generated from ``--seed`` into a work directory
under ``perfbench/.work`` before the session starts, and removed at exit.
A workload starts operations until ``--seconds`` have passed and always
completes at least one batch or query cycle.

End-to-end metrics (``--trace 0``), the same for every workload:

- ``setup_s``      process start until the first timed operation can run:
  imports, JVM, session, one warm-up job; input generation excluded;
- ``items_per_s``  CDC events, or queries, completed per second of
  operation time (an operation is one CDC micro-batch, or one query:
  builder call plus ``collect``);
- ``work_s``       wall time of the whole timed section (for ``cdc_sync``
  initial load + batches + the read-back dump);
- ``peak_rss_mb``  summed peak RSS of this process, the JVM and its
  children.

``--trace 1`` runs the same workload with span tracing, a Catalyst
QueryExecutionListener and the Spark UI (for the monitoring REST API)
switched on, and reports the per-layer metrics instead (``spans.py``),
plus the traced run's own end-to-end values as ``trace.*``: tracing
overhead is ``trace.X`` minus ``X`` of an untraced run. Its spans are
written to ``perfbench/out/``. ``--tiny`` shrinks the inputs for the smoke
test (``perfbench/test_smoke.py``).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it stamps the box, the versions, the seed,
workload-specific timings, and the hypervisor's steal share and the
driver JVM's collection time during the timed section. Exit code 0 means a result was printed, even
when operations failed (``correct`` is then false).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"cdc_sync": "cdc", "ml_queries": "mlq"}

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "work_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plan_nodes": "count",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.busy_frac": "ratio",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_s": "s",
    **{f"{m}.{k}": u for m in ("similarity", "dedup", "graph", "ranking", "fuzzy")
       for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))},
    "refsync.cdc_apply_build_s": "s", "refsync.sync_users_into_state_s": "s",
    "refsync.status_S": "count", "refsync.status_W": "count",
    "refsync.status_E": "count", "refsync.status_F": "count",
    "refsync.useful_frac": "ratio",
    "stream.process_batch_s": "s", "stream.statuses_collect_s": "s",
    "state_store.read_s": "s", "state_store.commit_s": "s",
    "state_store.gc_s": "s", "state_store.bytes_written_per_event": "B",
    "compare.dump_tree_stream_s": "s",
    **{f"trace.{k}": u for k, u in END_TO_END.items()},
}


def box() -> dict:
    """Cores, memory and the driver heap fitted to them. The session
    factory defaults to a 16g heap, which a 16 GB box cannot give."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    return {"nproc": cores, "mem_total_kb": mem_kb, "driver_mem": f"{heap_mb}m"}


def source_stamp() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "py_etl_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    digest.update(fh.read())
    return {"git_commit": commit, "source_sha256": digest.hexdigest()}


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants: the
    driver Python, the Spark JVM and any Python workers it forked."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid]
        tree.update(kids)
        frontier.extend(kids)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(line.split()[1]) for line in fh
                                  if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def jvm_gc_s(spark) -> float:
    """Time the driver JVM's collectors have spent so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def start_spark(app: str, cores: int, traced: bool, workdir: str):
    """The set-up every run pays: JVM, session, one warm-up job."""
    from py_etl_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    # the factory's local posture: shuffle partitions = cores
    spark = get_spark(app, cpus=cores, shuffle_partitions=cores, extra_conf=conf)
    (spark.range(0, 200_000, numPartitions=cores)
     .selectExpr("id % 97 AS k", "id").groupBy("k").count().collect())
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 - a dead JVM cannot be stopped
        print(f"perfbench: spark.stop failed: {exc!r}", file=sys.stderr)
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "py_etl_spark")):
        print(f"perfbench: no py_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    env = box()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = env["driver_mem"]
    import pyspark

    from spans import PlanListener, Result, Tracer, job_counter, jvm_alive

    wl = importlib.import_module(WORKLOADS[args.workload])
    traced = bool(args.trace)
    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **env, "pyspark": pyspark.__version__,
        **source_stamp(),
    }
    spark = None
    try:
        t_gen = time.perf_counter()
        inputs = wl.generate(os.path.join(workdir, "in"), args.seed, args.tiny)
        gen_s = time.perf_counter() - t_gen
        spark = start_spark(f"perfbench-{args.workload}", env["nproc"], traced, workdir)
        setup_s = time.perf_counter() - T_START - gen_s
        tracer = Tracer(traced)
        if traced:
            tracer.job_count = job_counter(spark.sparkContext)
            PlanListener(tracer, spark)
        gc0, ticks0 = jvm_gc_s(spark), cpu_ticks()
        t_run = time.perf_counter()
        try:
            res = wl.run(spark, inputs, args.seconds, tracer, env["nproc"])
        except Exception as exc:  # noqa: BLE001 - a lost run is still a record
            traceback.print_exc()
            res = Result([], 0, time.perf_counter() - t_run, 1, 1, False,
                         {"error": repr(exc)[:300]}, {})
        peak = tree_peak_rss_mb()
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        # what the timed section shared the machine with: the hypervisor's
        # steal, and the driver JVM's collections
        stamp["steal_frac"] = ticks[7] / max(sum(ticks), 1)
        if jvm_alive():
            stamp["driver_gc_s"] = jvm_gc_s(spark) - gc0
        e2e = {
            "setup_s": setup_s,
            "items_per_s": res.items / sum(res.op_s) if res.op_s else 0.0,
            "work_s": res.work_s,
            "peak_rss_mb": peak,
        }
        stamp.update(gen_s=gen_s, ops=len(res.op_s), **res.notes)
        if traced:
            unknown = set(res.layers) - set(PER_LAYER)
            if unknown:
                raise KeyError(f"per-layer metrics missing from PER_LAYER: {unknown}")
            # layers a workload never enters (or a run that completed no
            # operation) report 0
            metrics = {**dict.fromkeys(PER_LAYER, 0.0), **res.layers,
                       **{f"trace.{k}": v for k, v in e2e.items()}}
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tracer.dump(
                os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"),
                {"stamp": stamp, "metrics": metrics},
            )
            tracer.unwrap()
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        print(json.dumps({"stamp": stamp}), flush=True)
        print(json.dumps({
            "correct": res.failed == 0 and res.checked,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
