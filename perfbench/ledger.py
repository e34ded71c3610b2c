"""The traced run: a per-layer ledger of one workload.

The run:

1. sets up as the untraced run does and times the workload's passes for
   half of ``--seconds``; then stops that Spark context and its JVM and sets
   up again in a new JVM, with Spark's event log on (uncompressed) and spans
   around the engine's public functions, and times traced passes for the
   other half. Both halves start from a fresh JVM with the same warm-up, so
   ``trace.overhead_share``, the median traced pass ÷ the median untraced
   pass − 1, counts the event log and the spans and not a warmer JVM;
2. runs one probe per layer over this workload's inputs, each under its
   own Spark job group, so the event log attributes executor work to it:

   * ``sources``: the pages files scanned to a noop sink;
   * ``html_extract``: ``extract_main_content`` over the pages' html in this
     process, on one thread;
   * ``extract``: ``extract_doc_text`` to a noop sink at ``local[4]`` and,
     in a last session, at ``local[1]``;
   * ``lineage``: ``run_extraction`` into a fresh out dir, then resume
     steps of one file group each, each followed by ``read_incremental``;
   * ``queries``: each curation query built and executed to a noop sink;

3. reads the event log back (``eventlog.py``) for the Python-worker,
   shuffle, spill, GC and task metrics of each group.

Every probe runs on every workload, so every metric exists everywhere; the
workload's own passes (``pass.*`` and ``spark.*``) say which layers it
loads. For the curation workload the pages are the engine's cached pages
table of its documents (``cached_pages_path``).
"""

from __future__ import annotations

import functools
import shutil
import statistics
import sys
import time
from pathlib import Path

import eventlog
import prepare
import pyarrow.parquet as pq
import run as bench
import workloads
from pyspark.sql import SparkSession
from workloads import _noop

from docling_ibm_models_spark.functions.html_extract import extract_main_content
from docling_ibm_models_spark.pipeline import extract, lineage
from docling_ibm_models_spark.plans.queries import QUERIES

MB = 2**20
KERNEL_PAGES = 4000  # html documents the one-thread kernel probe reads at most
MAP_REPS = 3  # timed extract_doc_text probes
RUN_REPS = 2  # timed run_extraction probes


class Spans:
    """Wall-time spans around calls into the engine's public functions.

    ``install`` swaps each function for a wrapper in the module that calls
    it; ``remove`` puts the originals back. Spans are kept in memory as
    (name, start, end, parent index)."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = self._stack[-1] if self._stack else -1
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0, parent))
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                n, start, _, p = self.spans[idx]
                self.spans[idx] = (n, start, time.perf_counter(), p)

        return wrapper

    def install(self) -> None:
        targets = [
            (lineage, "run_extraction", "lineage.run_extraction"),
            (lineage, "list_file_groups", "lineage.list_file_groups"),
            (lineage, "committed_partitions", "lineage.committed_partitions"),
            (lineage, "read_incremental", "lineage.read_incremental"),
            (lineage, "extract_doc_text", "extract.extract_doc_text"),
            (workloads, "run_extraction", "lineage.run_extraction"),
        ]
        for mod, attr, name in targets:
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(name, fn))
        for qname in prepare.CURATION_QUERIES:
            fn = QUERIES[qname]
            self._saved.append((QUERIES, qname, fn))
            QUERIES[qname] = self._wrap("queries.build", fn)

    def remove(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            if isinstance(mod, dict):
                mod[attr] = fn
            else:
                setattr(mod, attr, fn)
        self._saved.clear()

    def self_shares(self, total_s: float) -> dict[str, float]:
        """Per span name, self time (duration minus that of its child
        spans) as a share of ``total_s``."""
        own = [end - start for _, start, end, _ in self.spans]
        for _, start, end, parent in self.spans:
            if parent >= 0:
                own[parent] -= end - start
        shares: dict[str, float] = {}
        for (name, *_), t in zip(self.spans, own):
            shares[name] = shares.get(name, 0.0) + t / total_s
        return shares

    def mean(self, name: str, since: int = 0) -> float:
        d = [end - start for n, start, end, _ in self.spans[since:] if n == name]
        return sum(d) / len(d) if d else 0.0


def _timed(fn, reps: int) -> list[float]:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


def _disk(path: Path) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _pages_path(spark: SparkSession, workload) -> str:
    """The workload's pages table; for the curation workload, the engine's
    cached pages table of its documents."""
    if hasattr(workload, "pages"):
        return workload.pages
    from docling_ibm_models_spark.sources.pages_source import cached_pages_path

    return cached_pages_path(spark, workload.sf)


def run(workload, seconds: float, deadline: float) -> dict:
    """The ledger of ``workload``; its passes stop starting after
    ``deadline`` (a ``perf_counter`` time)."""
    scratch: Path = workload.scratch
    evdir = scratch / "eventlog"
    evdir.mkdir()
    extra = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": evdir.as_uri(),
    }
    # 1. the workload's passes: untraced, then traced
    spark, session_s = bench.set_up(workload)
    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    untraced = bench.timed_passes(workload, spark, seconds / 2, deadline)
    spark.stop()
    prepare.stop_jvm()

    spark, _ = bench.set_up(workload, extra=extra)
    sc = spark.sparkContext
    spans = Spans()
    sc.setJobGroup("pass", "pass")
    spans.install()
    try:
        traced = bench.timed_passes(workload, spark, seconds / 2, deadline)
    finally:
        spans.remove()
    print(
        f"perfbench: untraced: {bench.describe_passes(untraced)}; "
        f"traced: {bench.describe_passes(traced)}",
        file=sys.stderr,
    )
    n_passes = len(traced)
    shares = spans.self_shares(sum(dt for dt, _ in traced))
    pass_s = statistics.median(dt for dt, _ in traced)
    m["pass.run_s"] = (pass_s, "s")
    m["trace.overhead_share"] = (pass_s / statistics.median(dt for dt, _ in untraced) - 1, "1")
    sc.setJobGroup("check", "check")
    attempted, failed, failures = workload.check(spark)

    # 2. one probe per layer
    pages = _pages_path(spark, workload)
    n_pages = spark.read.parquet(pages).count()
    spans.install()
    try:
        _probe_layers(spark, pages, n_pages, scratch, spans, m)
    finally:
        spans.remove()
    spark.stop()

    # extract at one slot, in a session of its own
    spark = bench.start_session(master="local[1]", extra=extra)
    try:
        spark.sparkContext.setJobGroup("probe.map1.warm", "probe.map1.warm")
        _noop(extract.extract_doc_text(spark.read.parquet(pages)))
        spark.sparkContext.setJobGroup("probe.map1", "probe.map1")
        map1 = _timed(lambda: _noop(extract.extract_doc_text(spark.read.parquet(pages))), 1)[0]
    finally:
        spark.stop()

    # 3. the event log
    groups = eventlog.read_groups(str(evdir))
    _derive(m, groups, map1, n_pages, n_passes)
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    _print_ledger(workload, m, shares)
    shutil.rmtree(evdir, ignore_errors=True)
    return bench.report(m, attempted, failed)


def _probe_layers(spark: SparkSession, pages: str, n_pages: int, scratch: Path, spans: Spans,
                  m: dict) -> None:
    sc = spark.sparkContext

    # Spark's input-bytes task metric misses most parquet page reads here,
    # so the bytes a scan reads are the table's bytes on disk
    m["sources.read_mb"] = (_disk(Path(pages))[1] / MB, "MB")
    sc.setJobGroup("probe.scan", "probe.scan")
    m["sources.scan_s"] = (
        statistics.median(_timed(lambda: _noop(spark.read.parquet(pages)), 3)),
        "s",
    )

    html = [
        h
        for f in sorted(Path(pages).glob("*.parquet"))
        for h in pq.read_table(f, columns=["html"]).column("html").to_pylist()
    ][:KERNEL_PAGES]
    best = min(_timed(lambda: [extract_main_content(h) for h in html], 2))
    m["html_extract.pages_per_s_1t"] = (len(html) / best, "1/s")

    sc.setJobGroup("probe.map.warm", "probe.map.warm")
    _noop(extract.extract_doc_text(spark.read.parquet(pages)))
    sc.setJobGroup("probe.map", "probe.map")
    m["extract.map_s"] = (
        statistics.median(
            _timed(lambda: _noop(extract.extract_doc_text(spark.read.parquet(pages))), MAP_REPS)
        ),
        "s",
    )

    # a full run into a fresh out dir: two file groups, one chunk
    sc.setJobGroup("probe.run_extraction", "probe.run_extraction")
    runs = []
    for i in range(RUN_REPS):
        out = scratch / f"probe-run-{i}"
        snap = lineage.snapshot_id_for(pages)
        t = time.perf_counter()
        lineage.run_extraction(spark, pages, str(out), snap, num_partitions=workloads.LAKE_GROUPS)
        runs.append(time.perf_counter() - t)
    files, size = _disk(out)
    m["lineage.run_extraction_s"] = (statistics.median(runs), "s")
    m["lineage.files_written"] = (files, "count")
    m["lineage.write_mb"] = (size / MB, "MB")
    m["lineage.bytes_per_page"] = (size / n_pages, "B")

    # resume steps of one file group each, then the incremental read
    sc.setJobGroup("probe.step", "probe.step")
    out = str(scratch / "probe-steps")
    snap = lineage.snapshot_id_for(pages + "#steps")
    seen: set[int] = set()
    steps, reads = [], []
    mark = len(spans.spans)
    for _ in range(3):
        t = time.perf_counter()
        lineage.run_extraction(
            spark, pages, out, snap, num_partitions=4, chunk_partitions=1, max_chunks=1
        )
        t1 = time.perf_counter()
        df, seen = lineage.read_incremental(spark, out, snap, seen)
        _noop(df)
        steps.append(t1 - t)
        reads.append(time.perf_counter() - t1)
    # the first step creates the out dir; the others resume
    m["lineage.step_run_extraction_s"] = (statistics.median(steps[1:]), "s")
    m["lineage.step_read_incremental_s"] = (statistics.median(reads[1:]), "s")
    m["lineage.committed_partitions_s"] = (spans.mean("lineage.committed_partitions", mark), "s")
    m["lineage.list_file_groups_s"] = (spans.mean("lineage.list_file_groups", mark), "s")

    # the curation queries, once to warm and once measured
    sf = str(prepare.sf_dir())
    for group in ("probe.queries.warm", "probe.queries"):
        sc.setJobGroup(group, group)
        for name in prepare.CURATION_QUERIES:
            t = time.perf_counter()
            df = QUERIES[name](spark, sf)
            t1 = time.perf_counter()
            _noop(df)
            m[f"queries.{name}.build_s"] = (t1 - t, "s")
            m[f"queries.{name}.exec_s"] = (time.perf_counter() - t1, "s")
    m["queries.build_s"] = (
        sum(m[f"queries.{n}.build_s"][0] for n in prepare.CURATION_QUERIES), "s"
    )
    m["queries.exec_s"] = (
        sum(m[f"queries.{n}.exec_s"][0] for n in prepare.CURATION_QUERIES), "s"
    )


def _derive(m: dict, groups: dict, map1: float, n_pages: int, n_passes: int) -> None:
    def g(name: str) -> eventlog.GroupMetrics:
        return groups.get(name, eventlog.GroupMetrics())

    def py(gm: eventlog.GroupMetrics, key: str) -> float:
        return gm.accums.get(f"{key} Python workers", 0.0)

    mp = g("probe.map")
    map_s = m["extract.map_s"][0]
    m["extract.map_s_1slot"] = (map1, "s")
    m["extract.scaling_1to4"] = (map1 / map_s / 4, "1")
    m["extract.wrapper_ratio"] = (
        (n_pages / map1) / m["html_extract.pages_per_s_1t"][0],
        "1",
    )
    m["extract.py_run_s"] = (py(mp, "time to run") / MAP_REPS, "s")
    m["extract.py_init_s"] = (py(mp, "time to initialize") / MAP_REPS, "s")
    m["extract.to_python_mb"] = (py(mp, "data sent to") / MAP_REPS / MB, "MB")
    m["extract.from_python_mb"] = (py(mp, "data returned from") / MAP_REPS / MB, "MB")
    m["extract.task_skew"] = (mp.task_skew(), "1")

    run = g("probe.run_extraction")
    m["lineage.commit_s"] = (m["lineage.run_extraction_s"][0] - map_s, "s")
    m["lineage.jobs_per_chunk"] = (run.jobs / RUN_REPS, "count")

    q = g("probe.queries")
    m["queries.jobs"] = (q.jobs, "count")
    m["queries.shuffle_read_mb"] = (q.shuffle_read_bytes / MB, "MB")
    m["queries.shuffle_write_mb"] = (q.shuffle_write_bytes / MB, "MB")
    m["queries.spill_mb"] = (q.spill_bytes / MB, "MB")
    m["queries.py_run_s"] = (py(q, "time to run"), "s")
    m["queries.task_skew"] = (q.task_skew(), "1")

    p = g("pass")
    m["spark.jobs"] = (p.jobs / n_passes, "count")
    m["spark.tasks"] = (p.tasks / n_passes, "count")
    m["spark.executor_run_s"] = (p.run_s / n_passes, "s")
    m["spark.executor_cpu_s"] = (p.cpu_s / n_passes, "s")
    m["spark.gc_s"] = (p.gc_s / n_passes, "s")
    m["spark.py_run_s"] = (py(p, "time to run") / n_passes, "s")
    m["spark.shuffle_write_mb"] = (p.shuffle_write_bytes / n_passes / MB, "MB")


def _print_ledger(workload, m: dict, shares: dict[str, float]) -> None:
    """Where this workload's traced pass spends its time."""
    pass_s = m["pass.run_s"][0]
    out = [f"ledger for {workload.name}: traced pass {pass_s:.3f} s"]
    out.append(
        "  self time inside engine calls, per pass time: "
        + ", ".join(f"{n} {v:.0%}" for n, v in sorted(shares.items(), key=lambda kv: -kv[1]))
    )
    run_s, py_s = m["spark.executor_run_s"][0], m["spark.py_run_s"][0]
    out.append(
        f"  executor task time per pass {run_s:.3f} s, of which Python workers "
        f"{py_s:.3f} s ({py_s / run_s if run_s else 0:.0%})"
    )
    out.append(
        "  layer probes on this workload's pages: "
        + ", ".join(
            f"{k} {m[k][0]:.3f} s"
            for k in ("sources.scan_s", "extract.map_s", "lineage.commit_s",
                      "queries.build_s", "queries.exec_s")
        )
    )
    for line in out:
        print(f"perfbench: {line}", file=sys.stderr)
