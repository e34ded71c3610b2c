"""Benchmark of the extraction engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload lake_extract --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The process:

1. builds the inputs it needs if they are missing (``prepare.py``) and
   refuses to start if any is still missing afterwards;
2. sets up once: the JVM and a Spark session at ``local[4]`` with
   ``shuffle_partitions=4``, the inputs opened, and ``WARM_UPS`` untimed
   warm-up passes;
3. times passes of the workload until ``--seconds`` of timed work, and at
   least three passes, are done;
4. checks every timed pass's output, outside the timed region;
5. prints one JSON line: with ``--trace 0`` the end-to-end metrics, with
   ``--trace 1`` the per-layer ledger of ``ledger.py``.

End-to-end metrics: ``setup_s`` (seconds from the start of this program to
the end of the set-up, less the time spent building missing inputs: what a
user pays once per application), ``run_s`` (median timed pass),
``items_per_s`` (items of one pass / ``run_s``; pages for lake_extract,
queries for curation_queries) and ``rss_p95_mb`` (95th percentile of the
summed RSS of this process and its descendants, the JVM and the Python
workers, sampled every 0.25 s from the set-up until timing ends).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
HARD_STOP_S = 150.0  # stop timing passes here, to exit well within 180 s
MIN_PASSES = 3  # so that run_s is a median of at least three
WARM_UPS = 2  # a fresh process's second pass is still slower than its third


class RssSampler:
    """Summed RSS of this process and all its descendants, sampled in a
    thread. It walks only this process tree (``/proc/<pid>/task/<tid>/
    children``), so a sample costs little next to the benchmark's own work."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except (OSError, ValueError):
                continue  # the process ended while we read it
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append(self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def ensure_inputs(workload, seed: int) -> list[str]:
    """Build missing inputs; return those still missing."""
    import prepare

    if not (prepare.cache_dir() / prepare.READY).exists():
        subprocess.run(
            [sys.executable, str(Path(prepare.__file__))],
            stdout=sys.stderr,
            timeout=840,
        )
        if not (prepare.cache_dir() / prepare.READY).exists():
            return prepare.missing_inputs(None)  # prepare said why on stderr
    if workload.seeded:
        prepare.build_pages(seed)
    return prepare.missing_inputs(seed if workload.seeded else None)


def start_session(master: str = "local[4]", extra: dict[str, str] | None = None):
    import prepare

    from docling_ibm_models_spark.session import get_spark

    conf = prepare.spark_conf()
    conf.update(extra or {})
    spark = get_spark(
        app_name="perfbench", master=master, shuffle_partitions=4, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(workload, extra: dict[str, str] | None = None):
    """A Spark session (with, the first time, the JVM), the inputs opened,
    and ``WARM_UPS`` untimed warm-up passes. Returns the session and the
    seconds until it was up."""
    t0 = time.perf_counter()
    spark = start_session(extra=extra)
    session_s = time.perf_counter() - t0
    workload.open(spark)
    for _ in range(WARM_UPS):
        workload.warm_up(spark)
    return spark, session_s


def timed_passes(workload, spark, seconds: float, deadline: float) -> list[tuple[float, int]]:
    """Passes until ``seconds`` of timed work and at least ``MIN_PASSES``,
    but none that starts after ``deadline`` (a ``perf_counter`` time)
    except the first."""
    out: list[tuple[float, int]] = []
    while not out or (
        (sum(dt for dt, _ in out) < seconds or len(out) < MIN_PASSES)
        and time.perf_counter() < deadline
    ):
        out.append(workload.run_pass(spark))
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "docling_ibm_models_spark" / "__init__.py").is_file():
        return fail(f"no engine package under {ROOT}: run from a checkout of the repository")
    sys.path.insert(0, str(ROOT))
    import prepare

    os.environ.update(prepare.process_env())
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    t = time.perf_counter()
    missing = ensure_inputs(workloads.WORKLOADS[args.workload], args.seed)
    if missing:
        return fail(f"inputs missing after prepare: {missing}", 1)
    t_ready = time.perf_counter()
    inputs_s = t_ready - t  # building inputs is not set-up

    scratch = prepare.cache_dir() / "runs" / str(os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    workload = workloads.WORKLOADS[args.workload](args.seed, scratch)
    try:
        if args.trace:
            import ledger

            result = ledger.run(workload, args.seconds, t_ready + HARD_STOP_S / 2)
        else:
            result = run_untraced(workload, args.seconds, inputs_s, t_ready + HARD_STOP_S)
    finally:
        prepare.stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_untraced(workload, seconds: float, inputs_s: float, deadline: float) -> dict:
    with RssSampler() as rss:
        spark, _ = set_up(workload)
        setup_s = time.perf_counter() - T_START - inputs_s
        passes = timed_passes(workload, spark, seconds, deadline)
    try:
        attempted, failed, failures = workload.check(spark)
    finally:
        spark.stop()
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    run_s = statistics.median(dt for dt, _ in passes)
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "items_per_s": (passes[0][1] / run_s, "1/s"),
        # a percentile, not the maximum: a child the JVM is spawning shares,
        # and so briefly double-counts, the JVM's whole memory
        "rss_p95_mb": (statistics.quantiles(rss.samples, n=20)[-1] / 2**20, "MB"),
    }
    print(
        f"perfbench: {workload.name}: set-up {setup_s:.3f} s; "
        f"{describe_passes(passes)}; "
        f"{passes[0][1]} {workload.unit} per pass",
        file=sys.stderr,
    )
    return report(metrics, attempted, failed)


def describe_passes(passes: list[tuple[float, int]]) -> str:
    return f"{len(passes)} timed passes {[round(dt, 3) for dt, _ in passes]} s"


def report(metrics: dict[str, tuple[float, str]], attempted: int, failed: int) -> dict:
    for name, (value, unit) in metrics.items():
        print(f"perfbench:   {name:36s} {value:14.6f} {unit}", file=sys.stderr)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
