"""Benchmark of the wikisearch engine: one command, one workload per run.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Each run is a fresh process with its
own Spark session on ``local[<cores>]``; it stages every input and every
catalog under ``.perfbench_work/run-<pid>/`` in the checkout and deletes
that directory when it ends, whether the run succeeds or fails. The last
line on standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see ``perfbench/design.json``). A run whose package cannot be
imported exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "1g"


def configure(work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's directory. Must run before the Spark session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM of the run, the launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import accumulo_wikisearch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    # a run killed outright cannot clean up after itself: remove what
    # runs whose process is gone left behind, so disk use stays flat
    if os.path.isdir(WORK_ROOT):
        for name in os.listdir(WORK_ROOT):
            pid = name.removeprefix("run-")
            if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        configure(work, bool(args.trace))
        result = workloads.run(
            args.workload, work, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
