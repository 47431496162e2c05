"""Rewrite ``expected.json``, the digest every benchmark operation is checked
against, from one operation of each workload.

    python3 perfbench/record_expected.py

Run it from the root of a source checkout, and only when a suite or an
input generator of the benchmark changes; review the diff before keeping it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402
from perfbench.workloads import WORKLOADS, digest  # noqa: E402


def main() -> None:
    work = os.path.join(run.ROOT, ".perfbench_work", str(os.getpid()))
    run._environment(work)
    spark = run._session(work, event_log=False)
    out = {}
    try:
        for name, cls in sorted(WORKLOADS.items()):
            w = cls(spark, os.path.join(work, name), 1, {})
            os.makedirs(w.work_dir)
            w.setup()
            d = digest(w.op(0))
            # which image falls in which format depends on the seed: only the
            # partition keys are recorded, and the counts are checked by sum
            if name == "images_arrow":
                d["partition_keys"] = sorted(d.pop("partition"))
            out[name] = d
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
