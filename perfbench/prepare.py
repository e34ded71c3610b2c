"""Inputs for the benchmark, built before any timing starts.

Everything lives under ``perfbench/.cache/<hash>/``. The hash covers the
engine sources, the documents, the pins and this file, so an edited engine
never reads inputs that an older one built.

* **Shared inputs** are built once per checkout, by running this file:
  - the documents table, from ``data/documents.jsonl``;
  - a pool of rendered pages: every document in ``POOL_LAYOUTS`` layouts,
    drawn by the engine's own ``render_page`` with replica indices
    ``0 .. POOL_LAYOUTS-1``;
  - the engine's cached pages table of the documents, which the traced
    run's layer probes read on ``curation_queries``, and whatever caches the
    curation queries read. The engine writes them under ``TMPDIR``, which
    points here, so a cache left in ``/tmp`` by a session of another
    parallelism is never reused;
  - the DuckDB oracle result of every curation query.
* **Pins.** ``render_page`` computes each page's expected text with the
  extractor's own ``assemble`` and ``normalize_text``, and the oracles come
  from the engine's own SQL, so an engine edit would change the answers
  together with the outputs. ``data/pinned.json`` holds digests of the
  pool's html and expected text per document and of every oracle result,
  as built from the engine this benchmark was written against. The build
  stops, and every run refuses to start, when a rebuilt pool or oracle
  does not match them. ``python3 perfbench/prepare.py --pin`` rewrites the
  pins from the current engine: do so only when a change of the page
  generator or of a query's answer is intended.
* **Per-seed input** is built in the benchmark process before its clock
  starts: the ``lake_extract`` pages table. For each document the seed
  picks ``SEED_LAYOUTS`` of the pool's layouts, so every seed gives the
  same documents other page layouts.

Run ``python3 perfbench/prepare.py`` to build the shared inputs. The
benchmark does so itself on its first run in a checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "docling_ibm_models_spark"
DOCS_JSONL = Path(__file__).resolve().parent / "data" / "documents.jsonl"
PINNED = DOCS_JSONL.with_name("pinned.json")

# The curation workload's queries, in registry order: a shuffle self-join
# with a heavy plan build, and the model-stage reading-order operator.
CURATION_QUERIES = ("dedup_ngram_jaccard", "pipeline_reading_order")

POOL_LAYOUTS = 160  # rendered layouts per document
SEED_LAYOUTS = 80  # layouts per document in one seed's pages table
PAGE_FILES = 32  # parquet files of one seed's pages table

READY = "_READY"  # leading underscore: Spark skips it when listing data files


def engine_hash() -> str:
    h = hashlib.md5()
    for f in sorted(ENGINE.rglob("*.py")):
        h.update(str(f.relative_to(ENGINE)).encode())
        h.update(f.read_bytes())
    h.update(DOCS_JSONL.read_bytes())
    h.update(PINNED.read_bytes() if PINNED.exists() else b"")
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()[:12]


def cache_dir() -> Path:
    return ROOT / "perfbench" / ".cache" / engine_hash()


def sf_dir() -> Path:
    """The scale-factor directory the curation queries read."""
    return cache_dir() / "sf"


def oracle_path(name: str) -> Path:
    return cache_dir() / "oracles" / f"{name}.pkl"


def pool_path() -> Path:
    return cache_dir() / "pages-pool.parquet"


def pages_dir(seed: int) -> Path:
    return cache_dir() / "pages" / f"seed{seed}"


def process_env() -> dict[str, str]:
    """Environment for the benchmark and its Spark workers: every temporary
    file stays inside the checkout, and workers import the checkout's
    engine."""
    cache = cache_dir()
    env = {
        "TMPDIR": str(cache / "tmp"),
        "SPARK_LOCAL_DIRS": str(cache / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the engine's default JVM heap is 8g; the workloads need far less
        "SPARK_DRIVER_MEMORY": "2g",
    }
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(env[key], exist_ok=True)
    return env


def spark_conf() -> dict[str, str]:
    cache = cache_dir()
    return {
        "spark.sql.warehouse.dir": str(cache / "warehouse"),
        # a fixed-size heap (SPARK_DRIVER_MEMORY above): the JVM does not
        # resize it differently from run to run
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={cache / 'tmp'}",
    }


def stop_jvm() -> None:
    """Shut down the JVM that PySpark launched (with the Python workers it
    forked) and wait for it to exit. Call after ``spark.stop()``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def missing_inputs(seed: int | None) -> list[str]:
    """Inputs a run needs that are not built yet; ``seed`` None means the
    run has no per-seed input."""
    need = [cache_dir() / READY]
    if seed is not None:
        need.append(pages_dir(seed) / READY)
    return [str(p) for p in need if not p.exists()]


def _documents() -> list[dict]:
    return [json.loads(line) for line in DOCS_JSONL.read_text().splitlines() if line]


def _write_documents(sf: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    sf.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(_documents(), schema=schema), sf / "documents.parquet")


def _md5(parts) -> str:
    h = hashlib.md5()
    for part in parts:
        h.update(part if isinstance(part, bytes) else part.encode())
        h.update(b"\0")
    return h.hexdigest()


def frame_digest(pdf) -> str:
    """Digest of a pandas result: column names and dtypes, and its rows as
    an unordered multiset."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(r) for r in zip(*(pdf[c].tolist() for c in cols)))
    return _md5([repr([(c, str(pdf[c].dtype)) for c in cols]), *rows])


def _check_pinned(found: dict[str, dict[str, str]]) -> None:
    """Stop unless every digest in ``found`` equals its pin."""
    pinned = json.loads(PINNED.read_text()) if PINNED.exists() else {}
    problems = []
    for kind, digests in found.items():
        want = pinned.get(kind, {})
        bad = sorted(k for k in digests.keys() | want.keys() if digests.get(k) != want.get(k))
        if bad:
            problems.append(f"{kind}: {len(bad)} differ, e.g. {bad[:10]}")
    if problems:
        raise SystemExit(
            f"perfbench: the rebuilt inputs or answers differ from {PINNED.name} "
            f"({'; '.join(problems)}). page_html means render_page changed the "
            "workload's input, page_text that the expected text changed (render_page, "
            "html_extract.assemble or normalize_text), oracles that a query's reference "
            "answer changed. Refusing to run."
        )


def _write_pool() -> dict[str, dict[str, str]]:
    """Every document in every pool layout, document-major. Returns per
    document the digests of its layouts' url and html and of their
    expected text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_ibm_models_spark.sources.pages_source import render_page

    rows = [
        render_page(d["doc_id"], d["text"], d["lang"], d["source"], rep)
        for d in _documents()
        for rep in range(POOL_LAYOUTS)
    ]
    digests: dict[str, dict[str, str]] = {"page_html": {}, "page_text": {}}
    for d, doc in enumerate(_documents()):
        layouts = rows[d * POOL_LAYOUTS : (d + 1) * POOL_LAYOUTS]
        key = str(doc["doc_id"])
        digests["page_html"][key] = _md5(p for r in layouts for p in (r[0], r[2]))
        digests["page_text"][key] = _md5(r[3] for r in layouts)
    url, ts, html, text, lang = zip(*rows)
    table = pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        }
    )
    pq.write_table(table, pool_path())
    return digests


def build_shared(pin: bool = False) -> None:
    """Documents, the pages pool, the curation queries' engine caches, and
    their DuckDB oracle results, each checked against its pin; with ``pin``,
    rebuilt and pinned instead."""
    cache = cache_dir()
    if (cache / READY).exists() and not pin:
        return
    sf = sf_dir()
    _write_documents(sf)
    found = _write_pool()
    if not pin:
        _check_pinned(found)

    os.environ.update(process_env())
    import duckdb

    from docling_ibm_models_spark.plans.queries import ORACLES, QUERIES
    from docling_ibm_models_spark.session import get_spark
    from docling_ibm_models_spark.sources.pages_source import cached_pages_path

    spark = get_spark(
        app_name="perfbench-prepare",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf=spark_conf(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # one execution of each query builds every cache it reads
        for name in CURATION_QUERIES:
            QUERIES[name](spark, str(sf)).write.format("noop").mode("overwrite").save()
        # the pages table the traced run's layer probes read on this workload
        cached_pages_path(spark, str(sf))
    finally:
        spark.stop()
        stop_jvm()

    (cache / "oracles").mkdir(exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf / 'documents.parquet'}')"
        )
        oracles = {name: con.sql(ORACLES[name]).df() for name in CURATION_QUERIES}
    finally:
        con.close()
    found["oracles"] = {name: frame_digest(pdf) for name, pdf in oracles.items()}
    if pin:
        PINNED.write_text(json.dumps(found, indent=1, sort_keys=True) + "\n")
        # the pins are part of the cache key, so the next run rebuilds
        shutil.rmtree(cache, ignore_errors=True)
        return
    _check_pinned(found)
    for name, pdf in oracles.items():
        with open(oracle_path(name), "wb") as fh:
            pickle.dump(pdf, fh)
    (cache / READY).write_text("")


def build_pages(seed: int) -> Path:
    """The seed's ``lake_extract`` pages table, taken from the pool."""
    import pyarrow.parquet as pq

    out = pages_dir(seed)
    if (out / READY).exists():
        return out
    rng = random.Random(f"lake_extract:{seed}")
    rows = [
        doc * POOL_LAYOUTS + layout
        for doc in range(len(_documents()))
        for layout in rng.sample(range(POOL_LAYOUTS), SEED_LAYOUTS)
    ]
    rng.shuffle(rows)
    if len(rows) % PAGE_FILES:
        raise ValueError(f"{len(rows)} pages do not split evenly into {PAGE_FILES} files")
    table = pq.read_table(pool_path()).take(rows)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    per_file = len(rows) // PAGE_FILES
    for i in range(PAGE_FILES):
        pq.write_table(table.slice(i * per_file, per_file), out / f"part-{i:05d}.parquet")
    (out / READY).write_text("")
    return out


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    build_shared(pin=sys.argv[1:] == ["--pin"])
