"""Daily-batch benchmark entry point.

    python3 dailybench/run.py --workload daily_small --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).  A
readable per-day / per-query report goes to stderr; with ``--trace 1``
the spans are written to ``.dailybench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-history", metavar="SPEC_JSON",
                    help="internal: build the history warehouse for this spec and exit")
    args = ap.parse_args(argv)
    if args.build_history is None and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import tiki_e_commerce_analytics_etl_spark as engine
    except ImportError as exc:
        print(f"dailybench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"dailybench: the engine was imported from {engine.__file__}, not {ROOT}", file=sys.stderr)
        return 2

    import gen
    import harness

    if args.build_history is not None:
        return harness.build_history(ROOT, gen.Spec(**json.loads(args.build_history)))
    if args.workload not in harness.WORKLOADS:
        print(f"dailybench: unknown workload {args.workload!r}; "
              f"choose from {sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    return harness.main(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, T0)


if __name__ == "__main__":
    sys.exit(main())
