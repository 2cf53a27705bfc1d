#!/usr/bin/env python3
"""Round-trip benchmark of tensorflow_recorder_spark: ``convert`` ->
TFRecord shards -> ``load``, driven through the public API.

    python3 perfbench/run.py --workload tabular_60k --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. One process with a Spark session on
``local[nproc]`` runs a closed loop: each ``convert`` starts when the
previous ``load`` returned, and each ``load`` reads that convert's
output and turns every split into pandas. Every call is checked against
outputs computed from the generated input (``workloads.py``); a call
that raises or fails its check counts as failed.

Set-up (timed as ``setup_s``): SparkSession start, input generation from
``--seed``, expected digests, and untimed round trips that warm the JVM
and the Python workers.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures the
untraced loop for half of ``--seconds``, then runs the traced round trip
of ``layers.py`` and prints the per-layer metrics. Each run prints a
record line (environment stamp, sample counts, set-up breakdown,
failures) and, as its last line, one JSON summary.

Exit status 2 means the package is not in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "tensorflow_recorder_spark"

# workload -> (generator in workloads.py, size, warm-up trips). Tabular
# rows are small records (encode, framing+CRC, gzip and decode bound);
# the image tree takes the listing, image extract and explicit-shard
# writer path, with one shard per split so that a shard (~7 MB for
# TRAIN) is large next to a Python worker's baseline and
# worker_peak_rss_mb follows shard size. Sizes keep one run, set-up
# included, near a minute on a 4-core host.
# The JVM keeps getting faster over the first round trips, and how far
# it has got differs from run to run; the untimed warm-up trips (charged
# to set-up) leave the timed ones on the flat part: on tabular, timed
# convert still fell ~12% over four trips after two warm-ups and stayed
# flat after four. Images keep two, which the run budget allows.
WORKLOADS = {
    "tabular_60k": ("make_tabular", 60_000, 4),
    "images_150": ("make_images", 150, 2),
}
END_TO_END = {
    "convert_s": "s",
    "convert_s_tail": "s",
    "load_s": "s",
    "load_s_tail": "s",
    "output_bytes_per_row": "bytes/row",
    "worker_peak_rss_mb": "MB",
    "setup_s": "s",
}
# Every run times at least MIN_SAMPLES round trips, so the tail is the
# highest nearest-rank percentile that leaves one of MIN_SAMPLES above it.
MIN_SAMPLES = 4
TAIL_PERCENTILE = 75
# No call starts after LAST_CALL_S; the alarm ends a hung run at HARD_EXIT_S.
LAST_CALL_S = 140
HARD_EXIT_S = 170


def parse_args(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package from the checkout.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed heap, not a share of the host's free memory, so garbage
    # collection does not change with what else runs on the host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def keep_job_log_in(work: str) -> None:
    """``convert`` appends to a job log at a fixed path outside the
    checkout and copies it next to its output; point both at ``work``."""
    from tensorflow_recorder_spark import api

    log = os.path.join(work, "tfrecorder-spark.log")
    api._configure_logging.__defaults__ = (log,)
    api._copy_logfile.__defaults__ = (log,)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit; the JVM exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tail(samples: list[float]) -> float:
    ordered = sorted(samples)
    return ordered[math.ceil(TAIL_PERCENTILE / 100 * len(ordered)) - 1]


class RoundTrips:
    """Closed-loop convert -> load calls on one workload, each checked;
    keeps the timings of the round trips that passed."""

    def __init__(self, spark, workload, out_root: str):
        from workloads import frame_digest

        self.spark = spark
        self.workload = workload
        self.out_root = out_root
        self.digests = {
            s: frame_digest(f, workload.kinds) for s, f in workload.frames.items()
        }
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.convert_s: list[float] = []
        self.load_s: list[float] = []
        self.bytes_per_row: list[float] = []
        self._serial = 0

    def fail(self, problems: list[str]) -> None:
        self.failed += 1
        for problem in problems:
            print(f"perfbench: {problem}", file=sys.stderr)
        self.problems.extend(problems)

    def checked(self, what: str, call, check) -> tuple[object, float]:
        """Time ``call()`` and check its output. Returns (output,
        seconds), or (None, seconds) when it raised or failed the check."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            out = call()
        except Exception as exc:  # a failed call is counted, not fatal
            self.fail([f"{what} raised {exc!r}"])
            return None, time.perf_counter() - start
        seconds = time.perf_counter() - start
        problems = check(out)
        if problems:
            self.fail(problems)
            return None, seconds
        return out, seconds

    def convert(self, wrap=lambda call: call()) -> tuple[dict | None, float]:
        import tensorflow_recorder_spark as trs

        self._serial += 1
        out_dir = os.path.join(self.out_root, str(self._serial))
        kwargs = self.workload.convert_kwargs
        return self.checked(
            "convert",
            lambda: wrap(lambda: trs.convert(output_dir=out_dir, spark=self.spark, **kwargs)),
            self.workload.check_convert,
        )

    def check_frames(self, frames: dict) -> list[str]:
        return self.workload.check_load(frames, self.digests)

    def load(self, job_dir: str) -> float | None:
        """``load`` plus ``toPandas`` of every split."""
        import tensorflow_recorder_spark as trs

        frames, seconds = self.checked(
            "load",
            lambda: {
                s: df.toPandas() for s, df in trs.load(job_dir, spark=self.spark).items()
            },
            self.check_frames,
        )
        return None if frames is None else seconds

    def once(self, timed: bool = True) -> None:
        from workloads import shard_bytes

        result, convert_s = self.convert()
        if result is None:
            return
        job_dir = result["tfrecord_dir"]
        load_s = self.load(job_dir)
        if load_s is not None and timed:
            self.convert_s.append(convert_s)
            self.load_s.append(load_s)
            self.bytes_per_row.append(shard_bytes(job_dir) / self.workload.rows_written)
        shutil.rmtree(os.path.dirname(job_dir), ignore_errors=True)

    def loop(self, seconds: float, started: float) -> None:
        """Round trips until ``seconds`` are used and MIN_SAMPLES timed;
        a trip starts only if the last one would still fit."""
        begin = time.perf_counter()
        last = 0.0
        while len(self.convert_s) < MIN_SAMPLES or (
            time.perf_counter() + last <= begin + seconds
        ):
            if time.perf_counter() - started > LAST_CALL_S or self.failed > MIN_SAMPLES:
                break
            t0 = time.perf_counter()
            self.once()
            last = time.perf_counter() - t0


def traced(spark, trips: RoundTrips, work: str) -> dict:
    """Per-layer metrics: one convert under a single job group, the staged
    round trip, and the kernel microbench over its records. The staged
    calls are checked like the untraced ones."""
    import layers
    import probes

    groups = probes.JobGroups(spark)
    wl = trips.workload
    m: dict = {}

    def one_group(call):
        with groups.group("plans.convert") as g:
            out = call()
        m.update(layers.plan_metrics(g))
        return out

    result, _ = trips.convert(wrap=one_group)
    if result is not None:
        trips.load(result["tfrecord_dir"])

    out_dir = os.path.join(work, "traced")
    staged, convert_s = trips.checked(
        "staged convert",
        lambda: layers.staged_convert(spark, groups, wl.convert_kwargs, out_dir),
        lambda out: wl.check_convert(out[1]),
    )
    if staged is None:
        return m
    m.update(staged[0])
    job_dir = staged[1]["tfrecord_dir"]
    loaded, load_s = trips.checked(
        "staged load",
        lambda: layers.staged_load(spark, groups, job_dir),
        lambda out: trips.check_frames(out[1]),
    )
    if loaded is None:
        return m
    m.update(loaded[0])

    kernels, _ = trips.checked(
        "kernels",
        lambda: layers.kernel_bench(
            job_dir, wl.convert_kwargs.get("compression", "gzip"), work, wl.image_files
        ),
        lambda out: out[1],
    )
    if kernels is not None:
        m.update(kernels[0])

    m["trace.staged_s"] = convert_s + load_s
    if trips.convert_s:
        untraced = statistics.median(trips.convert_s) + statistics.median(trips.load_s)
        m["trace.untraced_s"] = untraced
        m["trace.overhead_frac"] = (convert_s + load_s - untraced) / untraced
    return m


def run(args: argparse.Namespace, work: str, started: float) -> tuple[dict, dict]:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    import tensorflow_recorder_spark as trs

    import probes
    import workloads

    keep_job_log_in(work)
    generator, size, warmup_trips = WORKLOADS[args.workload]
    with probes.WorkerRss() as rss:
        t0 = time.perf_counter()
        spark = trs.get_spark("perfbench")
        master = spark.sparkContext.master
        try:
            session_s = time.perf_counter() - t0
            t1 = time.perf_counter()
            inputs = os.path.join(work, "input")
            os.makedirs(inputs)
            wl = getattr(workloads, generator)(args.seed, inputs, size)
            trips = RoundTrips(spark, wl, os.path.join(work, "out"))
            generate_s = time.perf_counter() - t1
            t2 = time.perf_counter()
            for _ in range(warmup_trips):
                trips.once(timed=False)
            warmup_s = time.perf_counter() - t2
            setup_s = time.perf_counter() - t0

            budget = args.seconds / 2 if args.trace else args.seconds
            trips.loop(budget, started)
            layer = traced(spark, trips, work) if args.trace else {}
        finally:
            stop_spark(spark)

    timed = bool(trips.convert_s)
    e2e = {
        "convert_s": statistics.median(trips.convert_s) if timed else 0.0,
        "convert_s_tail": tail(trips.convert_s) if timed else 0.0,
        "load_s": statistics.median(trips.load_s) if timed else 0.0,
        "load_s_tail": tail(trips.load_s) if timed else 0.0,
        "output_bytes_per_row": statistics.median(trips.bytes_per_row) if timed else 0.0,
        "worker_peak_rss_mb": rss.peak_mb,
        "setup_s": setup_s,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "master": master,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "pandas": pandas.__version__,
            "python": platform.python_version(),
        },
        "input": {
            "rows": wl.input_rows,
            "bytes": wl.input_bytes,
            "digest": wl.input_digest,
        },
        "samples": len(trips.convert_s),
        "tail_percentile": TAIL_PERCENTILE,
        "setup": {
            "session_s": session_s,
            "generate_s": generate_s,
            "warmup_s": warmup_s,
        },
        "attempted": trips.attempted,
        "failed": trips.failed,
        "problems": trips.problems[:20],
        "convert_samples_s": trips.convert_s,
        "load_samples_s": trips.load_s,
        "end_to_end": {
            **{k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()},
            "failed_frac": {
                "value": trips.failed / max(trips.attempted, 1),
                "unit": "frac",
            },
        },
        "per_layer": layer,
    }
    if args.trace:
        import layers

        record["reconcile"] = {
            "convert_steps_s": sum(layer.get(k, 0) for k in layers.CONVERT_STEPS),
            "convert_s": e2e["convert_s"],
            "load_steps_s": sum(layer.get(k, 0) for k in layers.LOAD_STEPS),
            "load_s": e2e["load_s"],
        }
        # a traced step that failed leaves its metrics out (and the run
        # incorrect) rather than reading 0
        metrics = {
            k: {"value": layer[k], "unit": u} for k, u in layers.PER_LAYER.items() if k in layer
        }
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    summary = {
        "correct": trips.failed == 0 and timed,
        "attempted": max(trips.attempted, 1),
        "failed": trips.failed,
        "metrics": metrics,
    }
    return record, summary


def main(argv: list[str]) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))

    def expire(signum, frame):
        """A hung run: kill the JVM (its Python workers exit with it),
        clean up and leave without a result."""
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=5)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(HARD_EXIT_S)
    isolate(work)
    sys.path[:0] = [ROOT]
    try:
        record, summary = run(args, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    signal.alarm(0)
    print(json.dumps({"record": record}))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
