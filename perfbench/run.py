"""Benchmark entry point: one closed-loop workload per process.

    python3 perfbench/run.py --workload relate_events --seed 1 --seconds 10 --trace 0

Run from the repository root. The process starts Spark through
``linref_spark.session.get_spark`` on ``local[k]`` (k = min(4, CPUs)),
stages the seeded inputs, runs one untimed pass that collects every
operation's output for the checks (it is also the warm-up), then runs
whole timed passes until ``--seconds`` have gone by, one operation at a
time. The output checks run last, outside the timed passes.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``setup_s``, ``pass_s``); with ``--trace 1`` every
library call runs in its own Spark job group and the metrics are the
per-layer figures folded from Spark's event log.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import traceback

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relate_events", "pipeline_cold_resume")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "linref_spark")):
        print(f"linref_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)

    def terminated(*_):
        # stop the JVM before anything else talks to it: unwinding first
        # would call spark.stop(), which waits for the job the signal
        # interrupted, and that job waits for this process to read its
        # result
        harness.stop_processes(timeout=5.0)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(143)

    signal.signal(signal.SIGTERM, terminated)
    try:
        import loop

        module = importlib.import_module(args.workload)
        result = loop.run(module, args, work)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        harness.stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
