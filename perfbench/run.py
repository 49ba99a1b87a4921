"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload lens_interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
under ``perfbench/_work`` (cached by seed and size). The last stdout
line is the result object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The line before it is a detail object with the
workload's own figures. A traced run also writes its spans and per-op
layer breakdown to ``perfbench/_work/traces/``. The exit code is 0
only when every op ran and every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# The pinned run environment, identical for every run (README.md
# records it): all cores, scratch and temp files inside the checkout,
# a driver heap well below the RAM of a 15 GB box, UTC.
DRIVER_MEM = "4g"


def pin_environment() -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t0 = time.time()
    # a terminated run still unwinds, so it stops Spark on its way out
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    pin_environment()
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    out = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), WORK)
    if out["trace"] is not None:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(out["trace"], f, indent=1)
    out["detail"]["phases_s"]["process"] = round(time.time() - t0, 3)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
