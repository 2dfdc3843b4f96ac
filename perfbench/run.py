"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the inputs from ``--seed``,
measures the named workload for ``--seconds`` against the package's
public API, checks its outputs, and prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics from spans (see README.md in this directory for the
layer → end-to-end map).  ``--size tiny`` shrinks every input for the
self-test.

Workloads: ingest_jdbc and stream_curate (both in BENCHMARK.json) and
analytics_suite (runnable, but outside the gated set; see README.md).
Load comes from this one process: ``local[nproc]`` with one poll loop, streaming
query or query at a time — a closed loop with one client.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_jdbc", "stream_curate", "analytics_suite")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Environment the engine needs, set before the JVM starts: the
    core count, and PYTHONPATH at the checkout root so the Python
    DataSource workers behind the streaming source can import the
    package.  Scratch files (shuffle, temp, Derby log) stay in
    ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp


def spark_conf(workdir: str) -> dict[str, str]:
    # the heap keeps the package's default size and growth, so peak RSS
    # is what the program actually touches
    java_opts = (
        f"-Djava.io.tmpdir={workdir}/tmp "
        f"-Dderby.stream.error.file={workdir}/derby.log"
    )
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": f"{workdir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def declared_metrics(key: str) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fluent_plugin_sql_spark", "__init__.py")):
        print(f"fluent_plugin_sql_spark not found under {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(
        ROOT, ".bench_work", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(workdir)
    prepare_env(workdir)
    sys.path.insert(0, ROOT)

    from harness import Run, metric, peak_rss_mb
    from spans import Recorder, SparkCounters

    spark = None
    try:
        t0 = time.perf_counter()
        from fluent_plugin_sql_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=spark_conf(workdir))
        session_s = time.perf_counter() - t0
        recorder = None
        if args.trace:
            recorder = Recorder(SparkCounters(spark))
        run = Run(spark, workdir, args.seed, args.seconds, recorder, args.size)
        if args.workload == "ingest_jdbc":
            import ingest as wl
        elif args.workload == "stream_curate":
            import curate as wl
        else:
            import suite as wl
        out = wl.main(run, session_s)
        if args.trace:
            metrics = out["layers"]
            metrics["session.get_spark_s"] = metric(session_s, "s")
            metrics["peak_rss_mb"] = metric(peak_rss_mb(spark), "MB")
            recorder.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
            # layers this workload bypasses spent no time: report them as 0
            for name, unit in declared_metrics("per_layer").items():
                metrics.setdefault(name, metric(0.0, unit))
        else:
            metrics = out["metrics"]
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
