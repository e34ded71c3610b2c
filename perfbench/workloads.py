"""The workloads: what one timed pass does and how its output is checked.

Each workload drives the engine's public API from outside, as a user
would. ``run_pass`` returns the seconds of its timed region and the items
it completed; checks that need Spark jobs run outside that region.
``check`` then verifies every timed pass and returns
``(attempted, failed, failures)``.
"""

from __future__ import annotations

import pickle
import shutil
import time
from functools import reduce
from pathlib import Path

import prepare
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_ibm_models_spark.pipeline.lineage import run_extraction, snapshot_id_for
from docling_ibm_models_spark.plans.queries import QUERIES

# file groups of one lake_extract run, all committed as one chunk
LAKE_GROUPS = 2


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _page_mismatches(spark: SparkSession, pages: str, outs: dict[int, str]) -> list[tuple]:
    """(tag, url, problem) for every page that is not in the doc_text of
    its tagged out dir exactly once with byte-identical text, and for every
    row there that is not a page."""
    truth = spark.read.parquet(pages).select("url", F.col("text").alias("expected"))
    got = reduce(
        DataFrame.unionByName,
        [
            spark.read.parquet(f"{out}/doc_text").select(
                F.lit(tag).alias("tag"), "url", "extracted_text"
            )
            for tag, out in outs.items()
        ],
    )
    per_url = got.groupBy("tag", "url").agg(
        F.count(F.lit(1)).alias("n"), F.first("extracted_text").alias("text")
    )
    tags = spark.createDataFrame([(t,) for t in outs], "tag int")
    bad = truth.crossJoin(tags).join(per_url, ["tag", "url"], "full_outer").where(
        F.col("n").isNull()
        | F.col("expected").isNull()
        | (F.col("n") != 1)
        | ~F.col("text").eqNullSafe(F.col("expected"))
    )
    problem = (
        F.when(F.col("n").isNull(), "missing")
        .when(F.col("expected").isNull(), "not an input page")
        .when(F.col("n") != 1, "duplicated")
        .otherwise("text differs")
    )
    return [tuple(r) for r in bad.select("tag", "url", problem).collect()]


class LakeExtract:
    """``run_extraction`` of the seed's 16k-page table into a fresh out
    dir: two file groups, committed as one chunk."""

    name = "lake_extract"
    unit = "pages"
    seeded = True

    def __init__(self, seed: int, scratch: Path) -> None:
        self.pages = str(prepare.pages_dir(seed))
        self.snapshot = snapshot_id_for(self.pages)
        self.scratch = scratch
        self.n_pages = 0
        self.passes: list[tuple[str, int]] = []  # (out dir, docs_processed)
        self._seq = 0

    def open(self, spark: SparkSession) -> None:
        self.n_pages = spark.read.parquet(self.pages).count()

    def _extract(self, spark: SparkSession) -> tuple[float, str, int]:
        self._seq += 1
        out = str(self.scratch / f"lake-{self._seq}")
        t0 = time.perf_counter()
        report = run_extraction(
            spark, self.pages, out, self.snapshot, num_partitions=LAKE_GROUPS
        )
        return time.perf_counter() - t0, out, report.docs_processed

    def warm_up(self, spark: SparkSession) -> None:
        """One untimed pass."""
        shutil.rmtree(self._extract(spark)[1])

    def run_pass(self, spark: SparkSession) -> tuple[float, int]:
        dt, out, docs = self._extract(spark)
        self.passes.append((out, docs))
        return dt, self.n_pages

    def check(self, spark: SparkSession) -> tuple[int, int, list[str]]:
        outs = {i: out for i, (out, _) in enumerate(self.passes)}
        bad = _page_mismatches(spark, self.pages, outs)
        failures = [f"pass {tag}: {url}: {problem}" for tag, url, problem in bad]
        lineage = reduce(
            DataFrame.unionByName,
            [
                spark.read.parquet(f"{out}/lineage").select(F.lit(tag).alias("tag"), "doc_count")
                for tag, out in outs.items()
            ],
        )
        lineage_docs = dict(lineage.groupBy("tag").agg(F.sum("doc_count")).collect())
        failed = 0
        for tag, (out, docs) in enumerate(self.passes):
            if docs == self.n_pages and lineage_docs.get(tag) == self.n_pages:
                failed += len({url for t, url, _ in bad if t == tag})
            else:  # the whole pass is wrong
                failed += self.n_pages
                failures.append(
                    f"pass {tag}: docs_processed {docs}, lineage doc_count "
                    f"{lineage_docs.get(tag)}, pages {self.n_pages}"
                )
        return self.n_pages * len(self.passes), failed, failures


class CurationQueries:
    """Build each curation query with ``QUERIES[name](spark, sf)`` and
    execute it to the noop sink, in registry order. Reads the fixed
    documents table: the seed is not used."""

    name = "curation_queries"
    unit = "queries"
    seeded = False

    def __init__(self, seed: int, scratch: Path) -> None:
        del seed  # fixed input; see class docstring
        self.scratch = scratch
        self.sf = str(prepare.sf_dir())
        self.names = prepare.CURATION_QUERIES
        self.last: dict[str, DataFrame] = {}  # the last timed pass's results
        self.raised: list[str] = []  # one entry per query execution that raised
        self.timed_passes = 0

    def open(self, spark: SparkSession) -> None:
        spark.read.parquet(f"{self.sf}/documents.parquet").schema  # noqa: B018

    def warm_up(self, spark: SparkSession) -> None:
        """One untimed pass."""
        for name in self.names:
            _noop(QUERIES[name](spark, self.sf))

    def run_pass(self, spark: SparkSession) -> tuple[float, int]:
        total = 0.0
        for name in self.names:
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, self.sf)
                _noop(df)
            except Exception as e:  # a failing query is counted, not fatal
                total += time.perf_counter() - t0
                self.raised.append(f"pass {self.timed_passes}: {name}: {type(e).__name__}: {e}")
                self.last.pop(name, None)
                continue
            total += time.perf_counter() - t0
            self.last[name] = df
        self.timed_passes += 1
        return total, len(self.names)

    def check(self, spark: SparkSession) -> tuple[int, int, list[str]]:
        """Every query execution of a timed pass is one operation. It fails
        if it raised; the last pass's results are also compared with their
        oracles (the queries are deterministic, so one pass stands for all)."""
        del spark
        failures = list(self.raised)
        for name, df in self.last.items():
            with open(prepare.oracle_path(name), "rb") as fh:
                oracle = pickle.load(fh)
            problem = oracle_diff(df.toPandas(), oracle)
            if problem:
                failures.append(f"last pass: {name}: {problem}")
        return len(self.names) * self.timed_passes, len(failures), failures


def _dtype_family(s) -> str:
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k in "fbM":
        return {"f": "float", "b": "bool", "M": "datetime"}[k]
    if k == "O":
        vals = s.dropna()[:50]
        if len(vals) and all(isinstance(v, int) for v in vals):
            return "int-as-object"
        if len(vals) and all(isinstance(v, float) for v in vals):
            return "float-as-object"
        return "object"
    return str(s.dtype)


def _canon(v):
    if isinstance(v, float) and v != v:
        return ("nan",)
    return v


def oracle_diff(got, want) -> str | None:
    """None if a pandas result matches its oracle result: same column
    names, same dtype family per column, and equal raw values as an
    unordered multiset of rows. Otherwise, what differs."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for c in cols:
        fg, fw = _dtype_family(got[c]), _dtype_family(want[c])
        if fg != fw:
            return f"column {c}: dtype family {fg} vs oracle {fw}"

    def rows(pdf):
        data = zip(*(pdf[c].tolist() for c in cols))
        return sorted((tuple(_canon(v) for v in r) for r in data), key=repr)

    for i, (a, b) in enumerate(zip(rows(got), rows(want))):
        if a != b:
            return f"sorted row {i}: {a!r} vs oracle {b!r}"
    return None


WORKLOADS = {w.name: w for w in (LakeExtract, CurationQueries)}
