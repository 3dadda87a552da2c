"""The engine's benchmark: seeded workloads against its public SQL surface.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 14 --trace 0

One process, one closed-loop client on a ``local[nproc]`` session. A run sets
the workload up three times (fresh engine, directory and seeded inputs each
time), runs every operation of the last set-up once as warm-up, then sends
as many whole passes of operations as fill ``--seconds`` at the workload's
nominal pass time, then checks every output against DuckDB outside the
timed region. With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` it alternates untraced and traced passes and prints the
per-layer metrics, the self time per layer and the tracing overhead. Human
readable lines go first; the last line of stdout is one JSON object. See ``perfbench/README.md`` for the metrics and
the layer each one watches.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bi_dashboard", "lake_dml")
DRIVER_MEM = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str, nproc: int) -> None:
    """Keep every file Spark, the engine and Python write inside ``work``
    (``sources/lake.py`` otherwise shares a temp-dir lake with pytest), and
    pin the session to the host's cores."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # collect() turns timestamps into naive datetimes in the process's
        # zone; the DuckDB oracle's are UTC
        TZ="UTC",
    )
    time.tzset()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    isolate(work, nproc)
    sys.path.insert(0, ROOT)
    # imported after isolate(): pyspark and the engine read the environment
    import harness

    try:
        result = harness.run(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            work=work,
            nproc=nproc,
            trace_out=os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.jsonl"
            ),
        )
    finally:
        harness.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for line in result.report:
        print(line)
    print(json.dumps(result.summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
