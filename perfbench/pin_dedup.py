"""Rewrite dedup_expected.json: the dedup cascade's results that have no
closed form, as the current code computes them.

Run from the repository root only when a change to the dedup operators is
meant to change their results, and review the diff of the file:

    python3 perfbench/pin_dedup.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench


def main() -> int:
    work = os.path.join(bench.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    bench.prepare_environment(work)
    import workloads

    cores = len(os.sched_getaffinity(0))
    run = None
    try:
        run = workloads.Run(spark=bench.start_session(work, cores), work=work,
                            cores=cores, seed=0, log=bench.log)
        dedup = workloads.DedupCascade(run)
        dedup.setup()
        pinned = dedup.pinned(dedup.rep())
        bench.log(f"{dedup.DOCS} docs: {pinned}")
    finally:
        bench.shutdown(run.spark if run else None)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(workloads.HERE, "dedup_expected.json"), "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
