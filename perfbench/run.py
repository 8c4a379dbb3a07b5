"""Benchmark entry point.

    python3 perfbench/run.py --workload {task_batch,ad_stream}
        --seed N --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the repository root.  One process, one client thread, Spark
on local[<cores>].  The run generates its inputs from the seed, starts
a session, runs the workload's oracle-covered entry points once against
their DuckDB SQL (cold, outside the timed loop), then drives the
workload for --seconds and checks its outputs.  Everything it writes
stays under perfbench/.work/ and is removed at exit.

The last stdout line is one JSON object: correct, attempted, failed
and metrics (end-to-end with --trace 0, per-layer with --trace 1).
The line before it is a detail record: seed, input rows and bytes,
host weather, every workload metric under its own name with unit and
sample count, and the failure accounting.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(workloads.GATE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args()


def _environment(work: str) -> None:
    """Point every scratch location the package, the JVM and Python
    use at the run's work dir, and make the package importable by the
    Python workers Spark forks."""
    for key, sub in (
        ("TMPDIR", "tmp"),
        ("SPARK_GRAFT_SCRATCH", "scratch"),
        ("SPARK_GRAFT_JVM_TMPDIR", "jvmtmp"),
        ("SPARK_GRAFT_LOCAL_DIR", "local"),
    ):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ[key] = os.path.join(work, sub)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # no /tmp/hsperfdata_<user> file from the JVM
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _host_weather(spark) -> dict:
    """bench.py's CPU canary plus loadavg, so a slow run on a busy
    host can be told from a slow program."""
    from bench import _cpu_canary_sec

    return {
        "cpu_canary_s": _cpu_canary_sec(spark),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cores": os.cpu_count(),
    }


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from /proc/stat: on a VM,
    stolen ticks are time the hypervisor gave the CPUs to other
    guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at teardown
            proc.kill()
            proc.wait(timeout=10)


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run uses it
    except OSError:
        pass


def main() -> int:
    args = _args()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work)
        try:
            import analysisofuserbehavior_spark  # noqa: F401
            from tools.check_oracle import compare  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the package is not importable here: {e}", file=sys.stderr)
            return 2
        before = _cpu_ticks()
        try:
            record = workloads.run(args, work, _host_weather, _stop_spark)
        except Exception:  # noqa: BLE001 - report, then fail the run
            traceback.print_exc()
            return 1
        total, stolen = (b - a for a, b in zip(before, _cpu_ticks()))
        record["detail"]["host"]["steal_share"] = stolen / total if total else 0.0
    finally:
        _remove(work)
    print(json.dumps(record["detail"], sort_keys=True))
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": record["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
