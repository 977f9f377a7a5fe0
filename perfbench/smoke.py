"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Runs every workload on tiny inputs, from the root of a checkout, for
at least five ops, with the results of the first four
deliberately corrupted, each in a different part (for ``fred_monthly``
the gold lake, the manifest table, the Derby table and the sheet): the
other ops must pass their checks and exactly the four corrupted ones
must register as failed. Exits non-zero on any other outcome.
"""

from __future__ import annotations

import argparse
import os
import sys

CORRUPT = (0, 1, 2, 3)  # the ops whose results are corrupted


def main() -> int:
    from perfbench.harness import live_spark_jvms
    from perfbench.run import run
    from perfbench.workloads import SMOKE, WORKLOADS

    if live_spark_jvms():
        print("smoke: refusing to start while another Spark JVM runs", file=sys.stderr)
        return 3
    checkout = os.getcwd()
    sys.path.insert(0, checkout)
    bad = []
    for name in WORKLOADS:
        args = argparse.Namespace(workload=name, seed=1, seconds=0, trace=0)
        res = run(args, checkout, scale=SMOKE, corrupt_ops=CORRUPT, min_ops=len(CORRUPT) + 1)
        ok = (res["attempted"] > len(CORRUPT) and res["failed"] == len(CORRUPT)
              and not res["correct"])
        print(f"smoke {name}: {res['attempted']} ops, {res['failed']} failed "
              f"(want {len(CORRUPT)} failed of {len(CORRUPT) + 1} or more): "
              f"{'ok' if ok else 'FAIL'}", flush=True)
        if not ok:
            bad.append(name)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
