"""One engine set-up in a process of its own, exactly as ``run.py`` makes
it: prints ``{"setup_s": <seconds from process start until the engine is
ready>}``, then stops Spark and waits for the processes it started.

    python3 perfbench/setup_once.py <scratch dir inside the checkout>

``run.py`` runs it a few times after its workload, for the median
``setup_s``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from procstat import ProcessTree
from spans import Tracer


def main() -> int:
    run_dir = sys.argv[1]
    cores = os.cpu_count() or 1
    run.prepare_env(run_dir, cores)
    try:
        spark, _ = run.set_up(cores, Tracer(enabled=False))
        setup_s = run.process_age_s()
        run.stop_spark(spark, ProcessTree())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"setup_s": setup_s}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
