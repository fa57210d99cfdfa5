#!/usr/bin/env python3
"""Record what the program outputs on the benchmark's inputs into
`expected.json`, the reference every later run's correctness gate
compares against. Run from the repository root, on the commit whose
outputs are the reference:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import run
    import workloads

    work = os.path.join(root, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    run.configure_env(root, work, cores, None)
    observed = {}
    try:
        spark = run.start_spark(cores)
        for name, make in workloads.WORKLOADS.items():
            wl = make()
            os.makedirs(os.path.join(work, name))
            wl.prepare(spark, os.path.join(work, name), seed=0)
            observed[name] = wl.unit().observed
    finally:
        run.stop_jvm(work)
        run.remove_work(work)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(observed, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(json.dumps(observed, indent=2, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
