#!/usr/bin/env python3
"""Stage the ``incremental_append`` base warehouse in a process of its own.

    python3 perfbench/stage_base.py <scratch dir> <base parquet> <warehouse>

Runs ``StagedPipeline.run`` over the base corpus in a SparkSession (and
so a JVM) that stops before this process exits. ``run.py`` starts it
from the repository root during set-up, so that the measured call is the
first in the measured JVM.
"""

from __future__ import annotations

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(work: str, base_path: str, warehouse: str) -> int:
    from dedupe_spark.config import PipelineConfig
    from dedupe_spark.plans.staged import StagedPipeline
    from harness import Session

    sess = Session(work)
    # a terminated staging still stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        spark = sess.start()
        cfg = PipelineConfig(run_id="bench", warehouse=warehouse)
        StagedPipeline(spark, cfg).run(spark.read.parquet(base_path))
    finally:
        sess.shutdown()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main(*sys.argv[1:4]))
