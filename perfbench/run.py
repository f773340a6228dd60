#!/usr/bin/env python3
"""Benchmark of the dedupe_spark engine: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload files_dedup --seed 1 --seconds 1 --trace 0

A run generates the workload's inputs from the seed and sets the program
up once: it starts the SparkSession, which launches the JVM, reads the
input and, for ``incremental_append``, stages the base warehouse. It
then calls the workload until ``--seconds`` have passed, at least once.
The first call is the first in this JVM, as in a batch job. Before
every call the harness clears every cache; after it, the result is
checked against the planted truth and must equal the first call's.

``--trace 0`` prints the end-to-end metrics named in ``BENCHMARK.json``.
``--trace 1`` then makes one traced and one untraced call, both warm,
and prints the per-layer metrics: spans around each layer call plus
Spark event-log totals per layer, and the tracing overhead (traced
minus untraced wall).

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The line before it records the host and the pinned Spark settings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1e6


def parse_args(argv, names):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=names)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Set-up, repetitions and result checks of one benchmark run."""

    def __init__(self, workload, session, seed: int):
        from workloads import digest

        self.wl, self.sess, self.seed = workload, session, seed
        self.digest = digest
        self.attempted = self.failed = 0
        self.reference = None
        self.quality: list[dict] = []  # per repetition, from the checks

    def setup(self) -> tuple[float, float]:
        """Generate and write the inputs, then set the program up: stage
        what the workload needs staged (in a JVM of its own), start the
        SparkSession, which launches the JVM, and read the input once.
        Returns the set-up time and its session-start part."""
        self.wl.generate(self.seed)
        self.wl.load(self.sess.work)
        t0 = time.perf_counter()
        if hasattr(self.wl, "stage"):
            self.wl.stage()
        t1 = time.perf_counter()
        spark = self.sess.start()
        t2 = time.perf_counter()
        spark.read.parquet(self.wl.path).count()
        return time.perf_counter() - t0, t2 - t1

    def rep(self, run: str, traced: bool):
        """One isolated, checked repetition; returns (wall seconds,
        tracer, bytes written to the warehouse)."""
        from harness import Tracer, job_group

        spark = self.sess.spark
        if hasattr(self.wl, "reset"):
            self.wl.reset()
        self.sess.isolate()
        tr = Tracer(spark, run) if traced else None
        t0 = time.perf_counter()
        if traced:
            result = self.wl.run_traced(spark, tr)
        else:
            with job_group(spark, run):
                result = self.wl.run(spark)
        wall = time.perf_counter() - t0
        self.attempted += 1
        bad, quality = self.wl.check(result)
        d = self.digest(self.wl.repeatable(result))
        if self.reference is None:
            self.reference = d
        elif d != self.reference:
            bad.append("result differs from the first repetition's")
        if bad:
            self.failed += 1
            print(f"{run}: check failed: {'; '.join(bad)}", file=sys.stderr)
        self.quality.append(quality)
        written = self.wl.written()[0] if hasattr(self.wl, "written") else 0
        return wall, tr, written


def main(argv=None) -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    args = parse_args(argv, names)

    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    import dedupe_spark  # noqa: F401  (the program under test, from the checkout)
    from eventlog import by_prefix, fold, read_events
    from harness import Session, dir_bytes, fresh_dir, jvm_peaks
    from workloads import WORKLOADS

    work = fresh_dir(os.path.join(root, ".perfbench_work", str(os.getpid())))
    sess = Session(work)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        runner = Runner(WORKLOADS[args.workload](), sess, args.seed)
        setup_s, start_s = runner.setup()
        input_bytes = dir_bytes(runner.wl.path)
        print(json.dumps({"host": sess.host(), "workload": args.workload, "seed": args.seed}))

        # The measured repetitions start with the workload's first call in
        # this JVM: a batch job starts a JVM per run, so its users pay for
        # code generation and JIT compilation every time.
        untraced = []  # (run name, wall, tracer, warehouse bytes)
        jvm_peaks(sess.spark, reset=True)
        t_start, i = time.perf_counter(), 0
        while not untraced or time.perf_counter() - t_start < args.seconds:
            untraced.append((f"u{i}", *runner.rep(f"u{i}", traced=False)))
            i += 1
        t_end = time.perf_counter()
        jvm = jvm_peaks(sess.spark)
        if args.trace:
            # per-layer numbers come from a warm traced repetition; a warm
            # untraced one after it gives the tracing overhead
            traced_s, tr, _ = runner.rep("t0", traced=True)
            warm_s = runner.rep("w0", traced=False)[0]
        groups = fold(read_events(sess.stop()))
        print(
            f"phases: set-up {setup_s:.2f} s, "
            f"measured {t_end - t_start:.1f} s in {len(untraced)} repetitions",
            file=sys.stderr,
        )
    finally:
        sess.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass

    n = runner.wl.n_records
    if args.trace:
        layers = runner.wl.layers(tr, groups)
        whole = by_prefix(groups, "t0")
        values = {
            **layers,
            **runner.quality[-1],
            "session.start_s": start_s,
            "jvm.heap_peak_mb": jvm["heap"],
            "jvm.nonheap_peak_mb": jvm["nonheap"],
            "engine.spill_mb": whole.spill_bytes / MB,
            "engine.peak_exec_mb": whole.peak_exec_bytes / MB,
            # summed executor run time of the warm untraced repetition
            "engine.task_s": groups["w0"].task_ms / 1e3,
            "trace.traced_s": traced_s,
            "trace.untraced_s": warm_s,
            "trace.overhead_s": traced_s - warm_s,
        }
        wanted = spec["per_layer"]
    else:
        shuffle = [groups[run].shuffle_write_bytes if run in groups else 0 for run, *_ in untraced]
        written = [w + sh for (*_, w), sh in zip(untraced, shuffle)]
        values = {
            "records_per_s": median([n / wall for _, wall, *_ in untraced]),
            "setup_s": setup_s,
            "shuffle_write_mb": median(shuffle) / MB,
            "write_amp": median(written) / input_bytes,
            "peak_exec_mb": median([groups[run].peak_exec_bytes / MB for run, *_ in untraced]),
            "pair_f1": median([q["pair_f1"] for q in runner.quality]),
        }
        wanted = spec["end_to_end"]

    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
