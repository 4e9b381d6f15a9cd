"""Benchmark of the taxonomy engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload reindex --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run that records layer spans and the
Spark event log and reports the per-layer metrics instead.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``; the line before it is a report with every timing's
median, tail percentile and sample count, the correctness checks, the
error rate, the peak RSS of the process tree (in ``facts``), and window
health (loadavg, memory bandwidth, the share of CPU time stolen by other
guests of the host).

All files go under ``.perfbench_work/`` in the working directory and are
removed at exit, except that a traced run keeps its spans, one JSON line
each, in ``.perfbench_work/spans/<workload>-<seed>.jsonl``.
``--size smoke`` runs tiny inputs; ``perfbench/smoke.py`` runs every
workload that way and checks the output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ds_discovery_opensearch_taxonomy_spark.cli import make_spark  # noqa: E402

from perfbench import metrics, tracing, workloads  # noqa: E402

WORKLOADS = {"reindex": workloads.reindex, "daily_update": workloads.daily_update}


def driver_heap() -> str:
    """A fifth of RAM, 1-4 GB: the package default (48g) exceeds small hosts."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // 5 // 2**20))}g"


def start_spark(work: Path, traced: bool):
    cpus = len(os.sched_getaffinity(0))
    jvm = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": jvm,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = make_spark(str(cpus), shuffle_partitions=cpus, driver_memory=driver_heap(), extra_conf=conf)
    return spark, cpus


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while True:
        left = [p for p in tracing.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL if time.time() > deadline else signal.SIGTERM)
            except ProcessLookupError:
                pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def clean(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # only when no other run is using it
    except OSError:
        pass


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    p.add_argument("--corrupt", action="store_true", help="corrupt one result before the gate (smoke check)")
    args = p.parse_args(argv)

    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    spans_file = work.parent / "spans" / f"{args.workload}-{args.seed}.jsonl"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = None
    health = {"loadavg_start": os.getloadavg(), "membw_gbps": tracing.membw_gbps()}
    cpu_start = tracing.cpu_times()

    rss = tracing.PeakRss()
    rss.start()
    t_start = time.time()
    tr = tracing.Tracer(traced=bool(args.trace))
    spark, cpus = start_spark(work, tr.traced)
    if tr.traced:
        tr.sc = spark.sparkContext
    run = workloads.Run(
        spark=spark, tr=tr, work=work, workload=args.workload, seed=args.seed,
        size_name=args.size, seconds=args.seconds, t_start=t_start, corrupt=args.corrupt,
    )
    try:
        WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        run.errors.append(traceback.format_exc(limit=3))
    finally:
        stop_spark(spark)
        peak = rss.stop()
    if run.errors:
        clean(work)
        return 1

    # an operation that raises ends the run above; what remains to fail
    # are the correctness checks
    run.facts["peak_rss_mb"] = peak / 2**20
    ops = [s for s in tr.spans if s["kind"] == "op" and s["name"] in metrics.TIMED_OPS]
    attempted = len(ops) + len(run.checks)
    failed = sum(not ok for _, ok, _ in run.checks)
    e2e, samples = metrics.end_to_end(run, tr)
    if tr.traced:
        jobs = tracing.read_event_log(work / "events")
        tracing.attribute_jobs(tr.spans, jobs)
        out_metrics = metrics.per_layer(run, tr)
    else:
        out_metrics = e2e
    if tr.traced:
        spans_file.parent.mkdir(exist_ok=True)
        tr.dump(spans_file)
        run.facts["spans_file"] = str(spans_file.relative_to(Path.cwd()))
    health["loadavg_end"] = os.getloadavg()
    health["cpu_steal_share"] = tracing.steal_share(cpu_start, tracing.cpu_times())
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "cpus": cpus,
        "trace": args.trace, "error_rate": failed / attempted,
        "timed_wall_s": sum(tracing.duration(s) for s in ops),
        "timings": samples, "end_to_end": {k: m["value"] for k, m in e2e.items()},
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in run.checks],
        "facts": run.facts, "health": health,
    }
    clean(work)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
