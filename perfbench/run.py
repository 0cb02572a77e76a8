"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 15 --trace 0

Works from any directory. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A readable report goes to standard error, and the full
record (versions, row counts, set-up breakdown; spans when traced) is
written under ``.perfbench_work/results/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import WORK_ROOT  # noqa: E402
from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS, Run, log, measure  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = measure(run)
    finally:
        run.close()

    import pyarrow
    import pyspark

    units = PER_LAYER if args.trace else END_TO_END
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "rows": run.rows,
        "setup": run.setup,
        "attempted": run.attempted,
        "failed": run.failed,
        "failed_ops_ratio": run.failed / max(1, run.attempted),
        "notes": run.notes,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        run.spans.dump(stem + "-spans.json")

    log(f"{args.workload} seed={args.seed} nproc={record['nproc']} spark={record['spark']} "
        f"pyarrow={record['pyarrow']} rows={run.rows} setup={ {k: round(v, 3) for k, v in run.setup.items()} }")
    for name, m in record["metrics"].items():
        log(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
    log(f"  {'failed_ops_ratio':28s} {record['failed_ops_ratio']:14.4f} ratio "
        f"({run.failed} of {run.attempted} operations)")
    for k, v in run.notes.items():
        log(f"  {k:28s} {v}")

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
