"""Benchmark entry point.

    python3 perfbench/run.py --workload {curation,ingest,feed} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints a detail line, then, as the last
line of stdout, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero without a result line when the program
cannot be imported or the run fails.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("curation", "ingest", "feed")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size; 'tiny' is for the smoke tests only",
    )
    args = ap.parse_args(argv)

    # Fail before any work when the program is not in this checkout.
    import streampro_assignment_etl_spark  # noqa: F401

    from perfbench import w_curation, w_feed, w_ingest

    workload = {"curation": w_curation, "ingest": w_ingest, "feed": w_feed}[args.workload]
    r = common.Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    try:
        workload.run(r)
    finally:
        r.stop_spark()
        r.cleanup()
    common.emit(r.result())
    return 0


if __name__ == "__main__":
    sys.exit(main())
