"""Run one benchmark workload; the last line of stdout is its result.

    python3 perfbench/run.py --workload flagship_joins --seed 1 --seconds 10 --trace 0

Workloads: ``flagship_joins``, ``index_rw`` (see perfbench/README.md).
With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run of the same ops.
"""

import time

T_START = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("flagship_joins", "index_rw")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import libspatialindex_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import harness

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = harness.run(
        args.workload, args.seed, args.seconds, bool(args.trace), ROOT, T_START
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
