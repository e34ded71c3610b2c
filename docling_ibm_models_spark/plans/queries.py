"""Named queries + DuckDB oracle SQL — the driver-checked operator surface.

Every SQL-expressible operator from SURVEY.md §2 (and the training-data ops
the engine adds) is exposed here twice: as a Spark DataFrame program built
ONLY from built-in ``pyspark.sql.functions`` (JVM-side, whole-stage codegen —
no Python in these paths) and as an equivalent ANSI-ish SQL string DuckDB
runs on the same parquet. The driver compares row counts, schemas, and
order-insensitive value hashes; column names/aliases are kept identical on
both sides by construction.

Cross-engine determinism rules used throughout:
* common 32-bit hash ``H(s) = int(md5(s)[:8], 16)`` — Spark
  ``conv(substr(md5(s),1,8),16,10)::long``, DuckDB
  ``('0x'||substr(md5(s),1,8))::BIGINT``;
* floats rounded (4-6 dp) before comparison; sums of doubles rounded to 2;
* every ORDER-sensitive construct (top-k, string_agg) carries a total
  deterministic order with an id tiebreak;
* timestamps compared as formatted UTC strings.

The spatial/geometric skeleton queries (J2, J6, A4, A7, A11 of SURVEY.md
§2.8) derive deterministic bbox tables from ``lineitem`` with identical
arithmetic in both dialects, then run the operator relationally: the
reference's nested-loop spatial theta-join (tf_cell_matcher.py:465-527),
band interval-join (matching_post_processor.py:780-1144), exact median
(matching_post_processor.py:190-264), final-assignment window top-1
(matching_post_processor.py:720-755) and index compaction dense_rank
(tf_predictor.py:502-564).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base-table scan, memoized per (live session, sf_dir, table).

    ``spark.read.parquet`` eagerly lists the directory and reads footers
    for schema inference on EVERY call (~25-85 ms of driver wall here);
    the registry resolves the same ten immutable tables a few hundred
    times per full sweep, which put ~13 s of pure re-inference inside the
    measured query walls (guide §5: driver work is serial work). The memo
    stores only the LAZY scan DataFrame — a plan object, equivalent to
    registering a temp view once per session; every action still scans
    the parquet files, so no data or results are cached. Entries are
    keyed by identity of the owning session so a stopped/replaced session
    can never serve a stale plan, and by sf_dir so scale factors never
    mix.

    Invalidation rule: the file listing and the schema are snapshotted per
    (session, sf_dir) at the first call. Files added to, removed from or
    rewritten under ``sf_dir`` afterwards are not seen by later queries in
    that session; call :func:`invalidate` after changing a table."""
    key = (sf_dir, name)
    hit = _T_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _T_CACHE[key] = (spark, df)
    return df


_T_CACHE: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def invalidate(sf_dir: str) -> None:
    """Drop the memoized scans of ``sf_dir`` (and with them their
    ``_dims_scan_parts`` memos); the next ``_t`` call re-lists the files and
    re-infers the schema."""
    for key in [k for k in _T_CACHE if k[0] == sf_dir]:
        del _T_CACHE[key]


# common hash in both dialects
def _h32_spark(col, seed: str = ""):
    s = F.concat(F.lit(seed), col) if seed else col
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _h32_sql(expr: str, seed: str = "") -> str:
    inner = f"'{seed}' || {expr}" if seed else expr
    return f"('0x' || substr(md5({inner}), 1, 8))::BIGINT"


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _materialize_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Materialize ``df`` DISTRIBUTED — write it to a job-scoped temp
    parquet and return a scan — so persisted/iterative inputs can be
    unpersisted immediately without the returned frame re-triggering the
    (now cache-less) lineage. Unlike collect→createDataFrame, result rows
    never pass through the driver (at 10^12-row outputs a collect is a
    driver OOM); unlike ``localCheckpoint`` nothing stays in the block
    manager, so no cached RDDs linger past the query. The write is the
    final exchange-free stage of the plan being materialized; on a cluster
    the identical call targets the shared scratch FS (a job-scoped HDFS/S3
    prefix) instead of the driver-local tmpdir. Schema is re-applied on
    read so zero-row results round-trip.

    All materializations share ONE session-scoped scratch dir, removed at
    interpreter exit (ADVICE r4: per-call mkdtemp leaked a full result
    copy under /tmp per invocation across long sessions / repeated bench
    runs); within the session each call gets a fresh subdir so concurrent
    queries never collide."""
    import tempfile

    global _MAT_SCRATCH, _MAT_SEQ
    if _MAT_SCRATCH is None:
        import atexit
        import shutil

        _MAT_SCRATCH = tempfile.mkdtemp(prefix="dims_mat_")
        atexit.register(shutil.rmtree, _MAT_SCRATCH, True)
    _MAT_SEQ += 1
    path = f"{_MAT_SCRATCH}/{_MAT_SEQ}/out"
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


_MAT_SCRATCH: str | None = None
_MAT_SEQ = 0


def _local_table(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A small literal table as a JVM-local relation. ``createDataFrame``
    of a Python list plans a ``Scan ExistingRDD`` whose partitions run as
    Python tasks on every execution; from a pandas frame with Arrow enabled
    the rows cross once, at build time, into a ``LocalTableScan``."""
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    pdf = pd.DataFrame(rows, columns=schema.fieldNames())
    return spark.createDataFrame(pdf, schema=schema)


def _spread(
    df: DataFrame, key: str = "doc_id", probe: DataFrame | None = None
) -> DataFrame:
    """Input-layout parallelism guard (guide §2.5, "input skew: one huge
    unsplittable file … repartition immediately after the read"): when the
    scan yields fewer partitions than the session's default parallelism —
    the sandbox ``documents`` table is ONE small parquet file, so every
    downstream narrow stage (including Arrow-batched kernels) would run as
    ONE task on a 32-core session — hash-repartition on doc_id to the
    default parallelism. The condition is scale-adaptive, not a local
    tuning: at production scale the scan already has >= cores byte-balanced
    splits and this returns the input unchanged (no extra exchange)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    # df.rdd physically plans the subtree on every access (~40 ms for a
    # bare scan, up to ~1 s for a cold derived plan); the partition count
    # of an immutable plan cannot change, so memoize it on the DataFrame
    # object — shared _t scans then pay the probe once per session instead
    # of once per query. `probe`, when given, must be a frame with the
    # SAME partition count as df (callers pass the base scan when df is a
    # narrow filter/project derivation of it — narrow transforms preserve
    # partitioning 1:1), letting the probe hit the memoized scan rather
    # than plan the derived subtree. The memo assumes a fixed
    # spark.sql.files.maxPartitionBytes (and openCostInBytes) for the
    # session: changing either after the first probe re-splits the scan,
    # but the memo keeps the old count (``invalidate`` drops it).
    src = probe if probe is not None else df
    n = getattr(src, "_dims_scan_parts", None)
    if n is None:
        n = src.rdd.getNumPartitions()
        try:
            src._dims_scan_parts = n
        except AttributeError:
            pass
    if n < p:
        return df.repartition(p, F.col(key))
    return df


def register(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


# Canonical synthetic url of a documents row (pages_source.render_page's
# formula) — ONE spelling shared by every query/oracle that reconstructs it.
_URL_SQL = (
    "'https://' || source || '.example.org/' || lang || '/doc-' "
    "|| lpad(doc_id::VARCHAR, 8, '0') || '-0'"
)


def _url_col():
    return F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        F.lit("-0"),
    )


# ===========================================================================
# 1. Relational core (engine breadth: agg / join / window over TPC-H tables)
# ===========================================================================

@register(
    "tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark, sf_dir):
    """Classic pricing-summary hash aggregate (map-side partial agg +
    single shuffle; mirrors SURVEY.md §2.5 A1-class grouped reductions)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "orders_customer_join",
    oracle="""
    SELECT n.n_name AS nation, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def orders_customer_join(spark, sf_dir):
    """Star join: fact ⋈ dim ⋈ dim with the small dims broadcast — the
    plan Catalyst should pick (asserted in tests via explain)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("nation")
    )


@register(
    "events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the streaming windowed
    agg; Structured Streaming runs the same plan off readStream)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_ts"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour_ts", "event_type")
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND l.l_shipdate > o.o_orderdate
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """Q3-style: selective dim filter pushed down, fact-fact join, grouped
    revenue, deterministic top-k."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(20)
    )


@register(
    "supplier_part_volume",
    oracle="""
    SELECT p.p_brand, n.n_name AS nation,
           count(*) AS n_lineitems,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, n.n_name
    ORDER BY p_brand, nation
    """,
)
def supplier_part_volume(spark, sf_dir):
    """Q5-flavored multi-dim star join, all dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy("p_brand", "nation")
    )


@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, session_no::BIGINT AS session_no,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sess
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap session ids via lag + running sum —
    the batch shape of a stateful streaming sessionizer."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond precision: events.ts is timestamp[us] with fractional
    # seconds; cast("long") would truncate and disagree with DuckDB's
    # epoch_us() on gaps in (1800, 1801) s (round-1 hash failure).
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ -> ts -> µs
    gap = epoch - F.lag(epoch).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .orderBy("user_id", "session_no")
    )


@register(
    "corpus_length_quantiles",
    oracle="""
    SELECT lang,
           round(quantile_cont(length(text), 0.5), 4) AS p50,
           round(quantile_cont(length(text), 0.9), 4) AS p90,
           round(quantile_cont(length(text), 0.99), 4) AS p99
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def corpus_length_quantiles(spark, sf_dir):
    """Per-language doc-length percentiles (corpus QA / length-filter
    threshold tuning): EXACT interpolated percentiles — Spark's
    percentile() and DuckDB's quantile_cont share the linear-interpolation
    definition, so results hash-match. At 10^12 docs swap in
    approx_percentile (t-digest, shuffle-light) and accept the documented
    error bound; the exact form is the oracle-checkable twin."""
    docs = _t(spark, sf_dir, "documents")
    ln = F.length("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.percentile(ln, F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile(ln, F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile(ln, F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("lang")
    )


_SALT_BUCKETS = 16


@register(
    "events_salted_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 4) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation, output-equivalent to the direct
    groupBy the oracle runs: event_type has only 5 values, so a direct
    shuffle lands each hot key on ONE reducer (the classic straggler at
    10^12 rows). Phase 1 groups on (event_type, salt = pmod(xxhash64(
    event_id), 16)) — 16-way fan-out of every hot key, all partial
    aggregates map-side combined; phase 2 re-aggregates the 5×16 partial
    rows. Decomposable aggregates only (count/sum/max compose; a median
    would not)."""
    ev = _t(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64(F.col("event_id")), F.lit(_SALT_BUCKETS))
    partial = (
        ev.withColumn("salt", salt)
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("value").alias("psum"),
            F.max("value").alias("pmax"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("psum"), 2).alias("total_value"),
            F.round(F.max("pmax"), 4).alias("max_value"),
        )
        .orderBy("event_type")
    )


@register(
    "events_click_purchase_join",
    oracle="""
    SELECT p.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           round((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 6) AS gap_s
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    ORDER BY user_id, purchase_id, click_id
    """,
)
def events_click_purchase_join(spark, sf_dir):
    """Click-to-purchase attribution: purchases joined to the same user's
    clicks within the preceding 30 minutes — an event-time range join on
    the user_id equi-key (one shuffle; the range condition prunes inside
    each key group)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    gap_us = F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
    return (
        purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            F.col("p_user").alias("user_id"),
            "click_id",
            "purchase_id",
            F.round(gap_us / 1_000_000.0, 6).alias("gap_s"),
        )
        .orderBy("user_id", "purchase_id", "click_id")
    )


@register(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
)
def topk_orders_per_customer(spark, sf_dir):
    """Window top-k per group (generic form of A7's top-1)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", F.col("o_totalprice").desc(), "o_orderkey")
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark, sf_dir):
    """Q4 shape: EXISTS → LEFT SEMI join (no row multiplication, the
    classic dedup-free existence test; Catalyst keeps it a single
    shuffled semi hash join)."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    sat = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        sat.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q6_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.02 AND l_discount <= 0.06
      AND l_quantity < 24
    """,
)
def tpch_q6_revenue(spark, sf_dir):
    """Q6 shape: pure filter + global agg — the pushdown benchmark: all
    four predicates reach the parquet scan (asserted in
    tests/test_plan_quality.py), zero shuffles beyond the final reduce."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "tpch_q12_priority_class",
    oracle="""
    SELECT l_linestatus,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def tpch_q12_priority_class(spark, sf_dir):
    """Q12 shape: join + conditional aggregation (map-side CASE, one
    shuffle on the join key, partial aggregation before the group-by
    exchange)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q14_promo_share",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-06-01'
      AND l_shipdate < TIMESTAMP '1996-07-01'
    """,
)
def tpch_q14_promo_share(spark, sf_dir):
    """Q14 shape: broadcast dim join + conditional ratio aggregate."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    """Q17 shape: correlated scalar subquery → decorrelated into a
    per-part aggregate joined back (Catalyst does the same rewrite for the
    SQL form; expressing it directly keeps the plan explicit: one partial
    agg on l_partkey + one broadcastable join, no per-row subquery)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresholds, li.l_partkey == thresholds.t_partkey)
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           sum(l.l_quantity) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """Q18 shape: HAVING-filtered aggregate as a LEFT SEMI join on the
    grouped key — the pre-aggregation prunes the big join input before the
    final group-by."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .where(F.col("tq") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey, round(avg(l_extendedprice), 4) AS avg_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT l_partkey, min(avg_cost) AS min_cost FROM cost GROUP BY l_partkey)
    SELECT p.p_partkey, p.p_brand, s.s_name, c.avg_cost AS cost
    FROM cost c
    JOIN best b ON b.l_partkey = c.l_partkey AND c.avg_cost = b.min_cost
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p.p_size <= 5
    ORDER BY p.p_partkey, s.s_name
    """,
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape (adapted to the lineitem fact — no partsupp table in the
    corpus): per-(part, supplier) average cost, then the classic
    min-scalar-subquery "supplier(s) achieving the per-part minimum",
    decorrelated into one partial agg + a min re-join on the SAME
    grouping key (no second shuffle: both aggs and the join share the
    l_partkey partitioning), then broadcast dims. Costs are rounded to
    4dp BEFORE the min comparison on both engines so min-equality is
    float-stable across summation orders."""
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg("l_extendedprice"), 4).alias("avg_cost")
    )
    best = cost.groupBy("l_partkey").agg(F.min("avg_cost").alias("min_cost"))
    p = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    s = _t(spark, sf_dir, "supplier")
    return (
        cost.join(best, "l_partkey")
        .where(F.col("avg_cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_name", F.col("avg_cost").alias("cost"))
        .orderBy("p_partkey", "s_name")
    )


@register(
    "tpch_q20_promo_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT l_suppkey FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 2500
    )
    ORDER BY s.s_suppkey
    """,
)
def tpch_q20_promo_suppliers(spark, sf_dir):
    """Q20 shape: NESTED semi-joins — parts filter feeds a semi-join that
    prunes the lineitem scan, a HAVING aggregate feeds the outer semi-join
    on suppliers. Both inner sides broadcast (part filter and the
    qualified-supplier key set are small); the only shuffle is the
    l_suppkey aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    promo = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    qualified = (
        li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .where(F.col("tq") > 2500)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(
            F.broadcast(qualified.withColumnRenamed("l_suppkey", "s_suppkey")),
            "s_suppkey",
            "left_semi",
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type <> 'PROMO'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    """,
)
def tpch_q16_supplier_count(spark, sf_dir):
    """Q16 shape: NOT IN over a tiny excluded-key set (broadcast anti-join
    — NOT IN's null semantics are safe here: s_suppkey is non-null) +
    count(DISTINCT) per group, which Spark plans as a two-phase
    partial/merge aggregate on (brand, type, suppkey)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") != "PROMO")
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad.withColumnRenamed("s_suppkey", "l_suppkey")),
                "l_suppkey", "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """Q19 shape: disjunction of conjunctive (dim, fact) predicate groups.
    The common fact-side residual (l_quantity <= 30, the OR's hull) is
    NOT hand-hoisted — Catalyst derives and pushes it to the scan while
    the full disjunction evaluates post-join on the broadcast part side."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    g = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.where(g).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@register(
    "tpch_q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_order_count_distribution(spark, sf_dir):
    """Q13 shape: left outer join with the filter on the JOIN CONDITION
    (not a WHERE — customers whose only orders are urgent must still count
    as c_count=0) followed by a double aggregation. The inner groupBy
    partitions by c_custkey; the outer re-aggregates the tiny (c_count)
    domain, so the second shuffle carries only #distinct-counts rows
    after partial aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1995-07-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark, sf_dir):
    """Q15 shape: a derived revenue view consumed twice — once as the join
    input, once inside a scalar max() subquery. Expressed as a single
    window-free plan: compute the view ONCE, take its scalar max via a
    broadcast 1-row cross join (not a second scan of lineitem), then
    filter. At scale the view is one partial-agg shuffle over the
    date-pruned scan; the max is a driver-free 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-07-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3
                        ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def tpch_q21_waiting_supplier(spark, sf_dir):
    """Q21 shape (adapted: lateness = shipped >60 days after order date,
    since this schema has no commit/receipt dates): the sole late supplier
    on a multi-supplier order. The two correlated subqueries over the SAME
    fact table become one left-semi and one left-anti join on l_orderkey
    with a supplier-inequality residual — all three lineitem scans shuffle
    on the same key, so Catalyst/AQE co-partitions them; the final groupBy
    is on the small supplier name domain."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late1 = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("l_orderkey", "l_suppkey", "l_linenumber")
    )
    others = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    # note: o_orderstatus='F' applies ONLY to the outer order (which `late1`
    # already enforces); l3's join to o3 re-reads the same order row, so the
    # anti side reuses late1 projected to distinct (orderkey, suppkey)
    late_others = late1.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    ).distinct()
    cand = late1.join(
        others,
        (F.col("x_orderkey") == F.col("l_orderkey"))
        & (F.col("x_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    sole = cand.join(
        late_others,
        (F.col("y_orderkey") == F.col("l_orderkey"))
        & (F.col("y_suppkey") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        sole.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nation_code, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    ORDER BY nation_code
    """,
)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    """Q22 shape (adapted: country code = c_nationkey, no phone column):
    scalar AVG subquery as a comparison bound + NOT EXISTS anti-join to
    recent orders + final small-domain aggregate ("lapsed high-balance
    customers"). The scalar avg is a 1-row broadcast cross join (never a
    driver collect); the anti side is date-pruned at the scan before the
    custkey anti-join; the groupBy domain is #nations."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation_code"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nation_code")
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    """Q5 shape: the classic 6-way snowflake join with a LOCAL-supplier
    correlation (supplier nation == customer nation carried as a join
    residual, not a filter). The fact-side joins shuffle on orderkey;
    nation/region/supplier broadcast; Catalyst prunes the region filter
    into the nation dimension before it ever reaches the fact table."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "tpch_q7_nation_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate)::INT AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_nation_volume_shipping(spark, sf_dir):
    """Q7 shape: the same dimension (nation) joined TWICE under different
    roles, a symmetric nation-pair disjunction evaluated post-join, and a
    derived grouping column (ship year). Both nation copies broadcast; the
    date band is pushed to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT year(o.o_orderdate)::INT AS o_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_3'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark, sf_dir):
    """Q8 shape: a conditional-aggregate RATIO (one nation's volume over
    total volume) per year — both sums come out of ONE aggregation pass
    via CASE, never two scans; the nation dimension again joins twice
    under different roles (customer-side region filter, supplier-side
    share target)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n1_region"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    """Q10 shape: top-N over a wide grouping (all the reported customer
    attributes ride the groupBy instead of a rejoin), quarter-pruned
    orders and a returnflag scan filter on lineitem. LIMIT ties broken by
    custkey — a total order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH value_by_part AS (
      SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS val
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, val FROM value_by_part
    WHERE val > (SELECT sum(val) * 0.0007 FROM value_by_part)
    ORDER BY val DESC, l_partkey
    """,
)
def tpch_q11_important_stock(spark, sf_dir):
    """Q11 shape (adapted: no partsupp table in this schema — part value
    from lineitem): a grouped aggregate compared against a scalar fraction
    of ITS OWN total. The derived view is computed once; the scalar rides
    a broadcast 1-row cross join, so the aggregation is not re-scanned."""
    li = _t(spark, sf_dir, "lineitem")
    vbp = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias("val")
    )
    total = vbp.agg((F.sum("val") * 0.0007).alias("threshold"))
    return (
        vbp.crossJoin(F.broadcast(total))
        .where(F.col("val") > F.col("threshold"))
        .select("l_partkey", "val")
        .orderBy(F.col("val").desc(), "l_partkey")
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name ORDER BY n_name
    """,
)
def customers_without_orders(spark, sf_dir):
    """Q22 flavor: NOT EXISTS → LEFT ANTI join (customers with no order
    since 2000), then a broadcast dim join for the nation rollup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    recent = o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    idle = c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


@register(
    "revenue_rollup",
    oracle="""
    SELECT coalesce(n_name, 'ALL') AS nation,
           coalesce(o_orderpriority, 'ALL') AS priority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name, o_orderpriority)
    ORDER BY nation, priority
    """,
)
def revenue_rollup(spark, sf_dir):
    """Multi-level aggregate via ROLLUP (nation → nation×priority →
    grand total) — one pass with Expand, not three scans."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "revenue",
        )
        .orderBy("nation", "priority")
    )


@register(
    "binary_payload_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_utf8_bytes,
           md5(text) AS payload_md5
    FROM documents ORDER BY doc_id
    """,
)
def binary_payload_meta(spark, sf_dir):
    """Binary-column metadata shape (multimodal §: opaque payload → typed
    metadata), oracle-checkable via utf8 re-encoding."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_utf8_bytes"),
        F.md5(F.col("text")).alias("payload_md5"),
    ).orderBy("doc_id")


# ===========================================================================
# 2. Text-analysis operators over documents (SURVEY.md build-plan additions)
# ===========================================================================

_LANGS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
}


def _kw_count_sql(kw: str) -> str:
    pad = f"' ' || lower(text) || ' '"
    return f"(length({pad}) - length(replace({pad}, ' {kw} ', ''))) / {len(kw) + 2}"


def _kw_count_spark(kw: str):
    pad = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    return (F.length(pad) - F.length(F.regexp_replace(pad, f" {kw} ", ""))) / (
        len(kw) + 2
    )


@register(
    "lang_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id,
             { ", ".join(f"({'+'.join(_kw_count_sql(k) for k in kws)})::BIGINT AS s_{lang}" for lang, kws in _LANGS.items()) }
      FROM documents
    )
    SELECT doc_id,
           CASE greatest(s_en, s_de, s_fr, s_es)
             WHEN 0 THEN 'und'
             WHEN s_en THEN 'en'
             WHEN s_de THEN 'de'
             WHEN s_fr THEN 'fr'
             ELSE 'es' END AS pred_lang,
           greatest(s_en, s_de, s_fr, s_es) AS top_score
    FROM scores ORDER BY doc_id
    """,
)
def lang_id(spark, sf_dir):
    """Stopword-marker language ID — pure column expressions (codegen), the
    n-gram-heuristic analogue of a fasttext-style lang filter."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        *[
            sum([_kw_count_spark(k) for k in kws[1:]], _kw_count_spark(kws[0]))
            .cast("long")
            .alias(f"s_{lang}")
            for lang, kws in _LANGS.items()
        ],
    )
    top = F.greatest(*[F.col(f"s_{l}") for l in _LANGS])
    pred = F.when(top == 0, F.lit("und"))
    for lang in _LANGS:  # ties resolved by dict order, same as the CASE chain
        pred = pred.when(F.col(f"s_{lang}") == top, F.lit(lang))
    return scored.select(
        "doc_id", pred.alias("pred_lang"), top.alias("top_score")
    ).orderBy("doc_id")


@register(
    "quality_score",
    oracle="""
    SELECT doc_id,
           n_chars,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           round(length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS avg_token_len,
           round((length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', '')))::DOUBLE
                 / length(text), 4) AS punct_ratio,
           CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 10 AND 5000
                 AND length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 3 AND 12
                THEN 1 ELSE 0 END AS quality_keep
    FROM documents ORDER BY doc_id
    """,
)
def quality_score(spark, sf_dir):
    """Gopher/C4-style quality gates: token count, mean token length,
    punctuation ratio → keep flag. All JVM-side expressions."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    avg_tok = F.length("text").cast("double") / n_tokens
    punct = (
        F.length("text")
        - F.length(
            F.regexp_replace(F.col("text"), r"[.,!]", "")
        )
    ).cast("double") / F.length("text")
    return docs.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 4).alias("avg_token_len"),
        F.round(punct, 4).alias("punct_ratio"),
        F.when(
            n_tokens.between(10, 5000) & avg_tok.between(3, 12), 1
        )
        .otherwise(0)
        .alias("quality_keep"),
    ).orderBy("doc_id")


@register(
    "token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpeish_tokens,
           len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS n_distinct_tokens
    FROM documents ORDER BY doc_id
    """,
)
def token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counting (training-data budgeting)."""
    docs = _t(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    ws = F.split(F.trim(lower), r"\s+")
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(lower, F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)).alias(
            "n_bpeish_tokens"
        ),
        F.size(F.array_distinct(ws)).alias("n_distinct_tokens"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Canonical-form document fingerprint (whitespace-normalized md5)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")).alias(
            "fingerprint"
        ),
    ).orderBy("doc_id")


_TOK_CTES = r"""
    w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
            FROM w),
    wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
"""


@register(
    "repetition_signals",
    oracle=f"""
    WITH {_TOK_CTES},
    wstats AS (
      SELECT doc_id, sum(c)::BIGINT AS n_words, count(*) AS n_distinct,
             max(c) AS top_w
      FROM wc GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      FROM tok
    ),
    bc AS (SELECT doc_id, b, count(*) AS c FROM bg WHERE b IS NOT NULL
           GROUP BY doc_id, b),
    bstats AS (SELECT doc_id, max(c) AS top_b, sum(c)::BIGINT AS n_bigrams
               FROM bc GROUP BY doc_id)
    SELECT ws.doc_id, ws.n_words,
           round(ws.n_distinct / ws.n_words::DOUBLE, 4) AS distinct_word_ratio,
           round(ws.top_w / ws.n_words::DOUBLE, 4) AS top_word_frac,
           round(bs.top_b / nullif(bs.n_bigrams, 0)::DOUBLE, 4) AS top_bigram_frac
    FROM wstats ws LEFT JOIN bstats bs ON bs.doc_id = ws.doc_id
    ORDER BY ws.doc_id
    """,
)
def repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals per document: distinct-word
    ratio, most-frequent-word fraction, most-frequent-bigram fraction (the
    "fraction of characters in the top n-gram" family used to drop
    boilerplate/spam before LLM training). All JVM-side: one posexplode,
    two keyed aggregations and a lead() window, every shuffle on doc_id so
    AQE co-partitions the join for free. At 10^12 docs nothing here is
    quadratic — cost is O(total tokens)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "w"
        ),
    )
    wc = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    wstats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        F.concat(F.col("w"), F.lit(" "), F.lead("w").over(win)).alias("b"),
    ).where(F.col("b").isNotNull())
    bstats = (
        bg.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_b"), F.sum("c").alias("n_bigrams"))
    )
    return (
        wstats.join(bstats, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.round(F.col("n_distinct") / F.col("n_words"), 4).alias(
                "distinct_word_ratio"
            ),
            F.round(F.col("top_w") / F.col("n_words"), 4).alias("top_word_frac"),
            F.round(
                F.col("top_b") / F.nullif(F.col("n_bigrams"), F.lit(0)), 4
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_vocabulary",
    oracle=f"""
    WITH {_TOK_CTES}
    SELECT w AS word, sum(c)::BIGINT AS tf, count(*) AS df
    FROM wc GROUP BY w
    ORDER BY df DESC, tf DESC, word LIMIT 50
    """,
)
def corpus_vocabulary(spark, sf_dir):
    """Corpus vocabulary TF/DF table, top 50 by document frequency — the
    "build the stopword list" step that feeds df-capped near-dup joins
    (see dedup_ngram_jaccard) and tf-idf weighting. Two-level aggregate:
    (doc, word) partial counts then a word-level rollup, so the second
    shuffle carries one row per (doc, word), never per token. LIMIT ties
    are broken by (tf, word) — a total order, deterministic across
    parallelism levels."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    wc = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy(F.col("w").alias("word"))
        .agg(F.sum("c").alias("tf"), F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("tf").desc(), "word")
        .limit(50)
    )


@register(
    "tfidf_keywords",
    oracle=f"""
    WITH {_TOK_CTES},
    dfs AS (SELECT w, count(*) AS df FROM wc GROUP BY w),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT wc.doc_id, wc.w,
             round(wc.c * ln(nd.n_docs / dfs.df::DOUBLE), 4) AS score
      FROM wc JOIN dfs ON dfs.w = wc.w CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, w AS keyword, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, w) AS rank
      FROM scored
    )
    SELECT doc_id, keyword, score, rank::INT AS rank
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def tfidf_keywords(spark, sf_dir):
    """Top-3 tf-idf keywords per document (ranked keyword extraction for
    search indexing / topic tagging). The document-frequency table is
    vocab-sized (millions of rows ≈ tens of MB at web scale — natural-
    language vocabularies grow ~Heaps' law, sublinearly in corpus size),
    so it is BROADCAST to the (doc, word) counts; the corpus doc count
    rides along as a broadcast 1-row cross join, never a driver collect.
    The only wide ops are the two keyed aggregations and the per-doc
    ranking window, all partitioned on doc_id or word."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    wc = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    dfs = wc.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        wc.join(F.broadcast(dfs), "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("w"),
            F.round(
                F.col("c") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "w")
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 3)
        .select("doc_id", F.col("w").alias("keyword"), "score", "rank")
        .orderBy("doc_id", "rank")
    )


# ===========================================================================
# 3. Deduplication operators
# ===========================================================================

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash,
           count(*) AS n_dups,
           min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY 1
    HAVING count(*) > 0
    ORDER BY content_hash
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on canonicalized content, keep min doc_id.
    At 100 TB this is one shuffle on a 16-byte key with map-side combine."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "))
    return (
        docs.groupBy(h.alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("content_hash")
    )


_SHINGLES_SQL = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
             )) AS shingles
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
            FROM documents)
      WHERE len(ws) >= 3
"""


def _shingles3_py(text):  # noqa: C901 (kept in lockstep with the SQL twin)
    # Arrow-vectorized 3-gram shingling. The pure-Catalyst formulation
    # (transform(sequence(...), i -> concat_ws(element_at×3)) + array_distinct)
    # is interpreted, not codegen'd (higher-order functions), and measured
    # ~2 ms/row here — 20× slower than this batch UDF for identical output.
    # Tokenization mirrors the oracle's regexp_split_to_array(trim(lower(
    # text)), '\s+') EXACTLY: trim strips SPACES only (not \n/\t), and a
    # leading non-space whitespace char yields an empty first token — a
    # plain str.split() would silently drop it and diverge. (\s is
    # unicode-aware in Python vs ASCII in DuckDB's RE2 — equal on this
    # ASCII corpus.)
    import re

    import pandas as pd

    ws_re = re.compile(r"\s+")
    out = []
    for t in text:
        if t is None:
            # NULL-tolerant like the SQL twin (DuckDB propagates NULL;
            # an AttributeError here would fail the whole Spark task)
            out.append(None)
            continue
        ws = ws_re.split(t.lower().strip(" "))
        if len(ws) < 3:
            out.append(None)
            continue
        seen: set = set()
        res: list = []
        for i in range(len(ws) - 2):
            s = ws[i] + " " + ws[i + 1] + " " + ws[i + 2]
            if s not in seen:
                seen.add(s)
                res.append(s)
        out.append(res)
    return pd.Series(out)


def _shingles_spark(docs):
    # pandas_udf construction needs an active SparkSession -> build lazily.
    # asNondeterministic: the filter on the UDF-computed column otherwise
    # gets pushed below the projection and the optimizer re-evaluates the
    # UDF once under the filter and once in the project — two
    # ArrowEvalPython nodes per consumer for one logical call (guide §4.4;
    # measured in the round-6 before-plans: every shingle consumer carried
    # the doubled node). The function itself is pure/deterministic; the
    # flag only forbids the optimizer from duplicating or reordering it.
    udf = F.pandas_udf(_shingles3_py, "array<string>").asNondeterministic()
    return docs.select("doc_id", udf("text").alias("shingles")).where(
        F.col("shingles").isNotNull()
    )


# ---------------------------------------------------------------------------
# Vectorized sliding-window derivations (round-6 optimization).
#
# The pure-Catalyst spelling of "all n-grams / fixed-width chunks of a
# split-word array" — ``transform(sequence(0, n_windows), i ->
# array_join(slice(words, f(i), k), ' '))`` — runs INTERPRETED per element
# (higher-order functions are not whole-stage-codegen'd), and the
# per-window ``slice`` re-materializes k tokens each step. Measured at
# sf0.1 (guide §1): the 3-gram HOF derivation alone was 3.28 s vs 0.49 s
# for the Arrow-batched twin below — the same ~7× the shingle kernel
# documented in round 1. These helpers keep tokenization EXACTLY in
# lockstep with the Catalyst spelling they replace (Java regex \s+ split,
# no empty-token filtering unless the caller did), and the queries keep
# their oracles unchanged.
# ---------------------------------------------------------------------------


def _slide_join_py(texts, k: int, step: int, drop_tail: bool, min_k: bool):
    """Shared kernel: per text, space-joined k-token windows every ``step``
    tokens over ``re.split(r'\\s+', text)`` (the Python twin of Spark's
    ``split(text, '\\s+')`` on this ASCII corpus — same precedent as
    ``_shingles3_py``). ``drop_tail`` drops the ragged tail window
    (chunking) instead of keeping it; ``min_k`` emits nothing when the doc
    has fewer than k tokens (sliding n-grams)."""
    import re

    ws_re = re.compile(r"\s+")
    out = []
    for t in texts:
        if t is None:
            out.append([])
            continue
        w = ws_re.split(t)
        n = len(w)
        if min_k and n < k:
            out.append([])
            continue
        if drop_tail:
            stops = range(0, (n // k) * k, step)
        else:
            stops = range(0, max(n - k + 1, 1) if min_k else n, step)
        out.append([" ".join(w[i : i + k]) for i in stops])
    return out


def _grams3_py(texts):
    # All consecutive 3-grams (duplicates kept) of split(text, '\s+') —
    # the vectorized twin of transform(sequence(0, size(words)-3), i ->
    # array_join(slice(words, i+1, 3), ' ')).
    import pandas as pd

    return pd.Series(_slide_join_py(texts, 3, 1, drop_tail=False, min_k=True))


def _grams3_spark(df):
    """doc_id + exploded 3-gram rows; output identical to the former
    Catalyst HOF derivation (asserted in tests/test_oracle_queries.py via
    the unchanged oracles)."""
    u = F.pandas_udf(_grams3_py, "array<string>").asNondeterministic()
    return df.select("doc_id", F.explode(u("text")).alias("g"))


NGRAM_DF_CAP = 100  # stop-phrase cap; mirrored in the oracle SQL below


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    kept AS (
      SELECT s FROM ex0 GROUP BY s
      HAVING count(*) > 1 AND count(*) <= {NGRAM_DF_CAP}
    ),
    ex AS (SELECT doc_id, s FROM ex0 JOIN kept USING (s)),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common::DOUBLE / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common::DOUBLE / (sa.n + sb.n - n_common) >= 0.2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """3-gram shingle Jaccard near-dup pairs: explode shingles → pair the
    documents of each shingle (the LSH-free exact variant) → per-pair
    intersection count → Jaccard via inclusion-exclusion.

    Document-frequency band prune (df in (1, NGRAM_DF_CAP]) on BOTH engines:
    df=1 shingles cannot form a pair (output-equivalent prune), and
    df > cap shingles are stop-phrases whose pair blow-up is Σdf²
    (quadratic — the round-1 scale-killer); capping them is the standard
    near-dup practice (cf. CCNet/SlimPajama) and is mirrored exactly in the
    oracle, so results stay comparable.

    Posting-list shape, one plan, no join: the shingling UDF runs once
    (one ArrowEvalPython) and each (doc_id, n, s) row is exploded from it.
    A ``count(1) OVER (PARTITION BY s)`` window gives each shingle's df and
    keeps 1 < df <= NGRAM_DF_CAP. ``groupBy(s)`` then collects each kept
    shingle's posting list of (doc_id, n); it runs on the window's hash
    partitioning on s, so it adds no exchange. Exploding the list twice
    with a.doc_id < b.doc_id yields one row per co-occurring pair per
    shingle, and counting per (doc_a, doc_b, na, nb) gives n_common with
    both sizes already attached. No temp-parquet materialization, no
    self-join, no separate df-prune join and no size lookup joins.

    Scale rule: the df prune runs before any collect_list. A shingle that
    sits in billions of documents never reaches an unbounded per-key
    buffer; the window sorts and spills instead. Each posting list then
    holds at most NGRAM_DF_CAP entries, and the exploded pair volume is
    exactly the output of the former shingle self-join."""
    from pyspark.sql import Window

    docs = _spread(_t(spark, sf_dir, "documents"))
    ex = _shingles_spark(docs).select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s")
    )
    df = F.count(F.lit(1)).over(Window.partitionBy("s"))
    postings = (
        ex.withColumn("df", df)
        .where((F.col("df") > 1) & (F.col("df") <= NGRAM_DF_CAP))
        .groupBy("s")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("p"))
    )
    pairs = (
        postings.select(F.explode("p").alias("a"), "p")
        .select("a", F.explode("p").alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    inter = pairs.groupBy(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("n_common"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.where(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_MINHASH_K = 8
_BAND_ROWS = 2  # 4 bands × 2 rows


_MINHASH_LSH_ORACLE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hashes AS (
      SELECT doc_id, k, min({_h32_sql("k::VARCHAR || ':' || s")}) AS minh
      FROM ex CROSS JOIN (SELECT unnest(range(0, {_MINHASH_K})) AS k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, (k // {_BAND_ROWS}) AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY k) AS bucket
      FROM hashes GROUP BY doc_id, (k // {_BAND_ROWS})
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """


def _minhash_bands(spark, sf_dir, sh=None):
    """doc_id → (band, bucket) rows: ONE groupBy(doc_id) computing all k
    minhashes as k parallel min() aggregate columns over the exploded
    shingle table (round 1 multiplied the shingle table ×k via crossJoin —
    k× the shuffle volume for the identical result), then k/_BAND_ROWS
    bucket strings assembled as array expressions and exploded (narrow).
    Pass a (cached) ``sh`` shingle-set DataFrame to share its computation
    with other consumers in the same plan."""
    if sh is None:
        sh = _shingles_spark(_spread(_t(spark, sf_dir, "documents")))
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    hashes = ex.groupBy("doc_id").agg(
        *[
            F.min(
                _h32_spark(F.concat(F.lit(f"{k}:"), F.col("s")))
            ).alias(f"m{k}")
            for k in range(_MINHASH_K)
        ]
    )
    n_bands = _MINHASH_K // _BAND_ROWS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).cast("int").alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{band * _BAND_ROWS + r}").cast("string")
                        for r in range(_BAND_ROWS)
                    ],
                ).alias("bucket"),
            )
            for band in range(n_bands)
        ]
    )
    return hashes.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _lsh_candidates(spark, sf_dir, sh=None):
    # Round-6: the band frame is materialized before the self-join — the
    # lazy plan re-derived shingles → explode → 8-way min agg → band
    # explode ONCE PER JOIN SIDE (no exchange reuse across the a/b
    # aliases; before-plan showed 2× the ArrowEvalPython + groupBy chain).
    # The materialized frame is |docs| × n_bands tiny rows; at 10^12 docs
    # writing the signature table once before candidate generation is the
    # standard MinHash-LSH pipeline shape.
    bands = _materialize_scan(_minhash_bands(spark, sf_dir, sh=sh), spark)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register("dedup_minhash_lsh", oracle=_MINHASH_LSH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding: shingle → k minhashes (common md5-based hash
    family, identical in the oracle) → band buckets → bucket equi-join →
    candidate pairs. The scale path for near-dup at 10^12 docs: cost is
    O(docs × k) + a hash-equi join on band buckets instead of O(n²)."""
    return _lsh_candidates(spark, sf_dir).orderBy("doc_a", "doc_b")


_VERIFY_JACCARD = 0.2

# shared by the dedup_minhash_verified oracle and (as a CTE) dedup_clusters
_MINHASH_VERIFIED_CTES = f"""sh AS ({_SHINGLES_SQL}),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hashes AS (
      SELECT doc_id, k, min({_h32_sql("k::VARCHAR || ':' || s")}) AS minh
      FROM ex CROSS JOIN (SELECT unnest(range(0, {_MINHASH_K})) AS k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, (k // {_BAND_ROWS}) AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY k) AS bucket
      FROM hashes GROUP BY doc_id, (k // {_BAND_ROWS})
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))) AS j
      FROM cand
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
    ),
    verified AS (
      SELECT doc_a, doc_b, round(j, 4) AS jaccard
      FROM scored WHERE j >= {_VERIFY_JACCARD}
    )"""


@register(
    "dedup_minhash_verified",
    oracle=f"""
    WITH {_MINHASH_VERIFIED_CTES}
    SELECT doc_a, doc_b, jaccard FROM verified
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_verified(spark, sf_dir):
    """The production near-dup pipeline tail: LSH candidate pairs verified
    with EXACT Jaccard over the full shingle sets. Only candidates pay the
    set-intersection cost, so at 10^12 docs this is O(candidates), not
    O(n²); the intersection itself is a narrow array_intersect on the two
    joined shingle arrays. The shingle-set DataFrame is persisted and
    shared by the candidate generation and both join sides — otherwise the
    shingling UDF would re-run up to ~5× inside this one action. The
    verified-pairs result is materialized DISTRIBUTED (temp-parquet scan,
    ``_materialize_scan``) before the shingle cache is released — same
    eager cache hygiene as before, but no rows ever pass through the
    driver, so the query stays safe at 10^12-doc pair volumes."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    sh = _shingles_spark(docs).persist()
    try:
        cand = _lsh_candidates(spark, sf_dir, sh=sh)
        sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
        sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        jac = inter.cast("double") / (
            F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
        )
        out = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .where(jac >= _VERIFY_JACCARD)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
            .orderBy("doc_a", "doc_b")
        )
        return _materialize_scan(out, spark)
    finally:
        sh.unpersist()


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_VERIFIED_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION ALL SELECT doc_b, doc_a FROM verified
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    walk(root, doc) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT w.root, e.b FROM walk w JOIN edges e ON e.a = w.doc
    )
    SELECT doc AS doc_id, min(root)::BIGINT AS cluster_id
    FROM walk GROUP BY doc ORDER BY doc_id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Duplicate CLUSTERS from the verified near-dup pair graph: connected
    components by iterative min-label propagation (each round every node
    takes the min label over itself and its neighbors; loop until a round
    changes nothing — Pregel/GraphX shape, each round one equi-join + one
    groupBy on doc_id). The component id is the component's min doc_id.

    Scale note: rounds = graph diameter; near-dup components are shallow
    (pairs/triples), so 2-3 rounds end it. For adversarial long chains the
    standard fix is alternating large-star/small-star contraction
    (O(log n) rounds) — same join/agg primitives, documented here, not
    needed for near-dup graphs. The driver-side loop condition is a
    count() on a tiny labels frame, not a collect of data rows. Oracle:
    DuckDB recursive-CTE reachability with min-over-reachable."""
    pairs = dedup_minhash_verified(spark, sf_dir)  # materialized, tiny
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionAll(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    ).persist()
    cached = [edges]
    try:
        labels = edges.select(F.col("a").alias("doc")).distinct().withColumn(
            "label", F.col("doc")
        ).persist()
        cached.append(labels)
        # convergence test: per-node labels are monotonically non-increasing
        # under min-propagation, so sum(label) strictly decreases iff ANY
        # node changed — one aggregation per round instead of a self-join +
        # count (each round's only action)
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        while True:
            neighbor_min = (
                edges.join(labels, edges.b == labels.doc)
                .groupBy(F.col("a").alias("doc"))
                .agg(F.min("label").alias("nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, "doc", "left")
                .select(
                    "doc",
                    F.least(
                        F.col("label"), F.coalesce("nmin", F.col("label"))
                    ).alias("label"),
                )
                .persist()
            )
            cached.append(new_labels)
            cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        out = labels.select(
            F.col("doc").alias("doc_id"),
            F.col("label").cast("long").alias("cluster_id"),
        ).orderBy("doc_id")
        # distributed materialization: the full (doc_id, cluster_id) label
        # table at web scale is ~n_docs rows — never collect it
        return _materialize_scan(out, spark)
    finally:
        for df in cached:  # same cache hygiene as dedup_minhash_verified
            df.unpersist()


_SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS w
      FROM documents
    ),
    wh AS (SELECT doc_id, {_h32_sql("w")} AS h FROM words),
    bits AS (
      SELECT doc_id,
             { ", ".join(f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(_SIMHASH_BITS)) }
      FROM wh GROUP BY doc_id
    )
    SELECT doc_id,
           ({ " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)) })::BIGINT AS simhash
    FROM bits ORDER BY doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash document sketches: per-word 32-bit hash → per-bit signed
    vote → sign bit vector. One grouped aggregation; hamming-distance pair
    search is a separate bounded self-join downstream."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("w"),
    )
    wh = words.select("doc_id", _h32_spark(F.col("w")).alias("h"))
    bits = wh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    sim = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.cast("long").alias("simhash")).orderBy("doc_id")


_SIMHASH_PAIR_BITS = 32  # wider sketch for pair search (16-bit is too coarse)
_HAMMING_MAX = 3


def _simhash32_df(spark, sf_dir):
    """32-bit simhash sketches (same construction as dedup_simhash at
    _SIMHASH_BITS — per-word hash bit votes)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("w"),
    )
    wh = words.select("doc_id", _h32_spark(F.col("w")).alias("h"))
    bits = wh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(_SIMHASH_PAIR_BITS)
        ]
    )
    sim = None
    for j in range(_SIMHASH_PAIR_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.cast("long").alias("simhash"))


_SIMHASH32_SQL = f"""
    WITH words AS (
      SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS w
      FROM documents
    ),
    wh AS (SELECT doc_id, {_h32_sql("w")} AS h FROM words),
    bits AS (
      SELECT doc_id,
             {", ".join(f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(_SIMHASH_PAIR_BITS))}
      FROM wh GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id,
             ({" + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_PAIR_BITS))})::BIGINT AS simhash
      FROM bits
    ),
    cl AS (
      SELECT simhash, count(*) AS n_docs, min(doc_id) AS rep_doc_id
      FROM sh GROUP BY simhash
    )
"""


@register(
    "dedup_simhash_pairs",
    oracle=f"""{_SIMHASH32_SQL}
    SELECT a.simhash AS sketch_a, b.simhash AS sketch_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming,
           a.n_docs AS docs_a, b.n_docs AS docs_b
    FROM cl a JOIN cl b ON a.simhash < b.simhash
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    ORDER BY sketch_a, sketch_b
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup CLUSTER links: docs collapse into exact-sketch
    clusters first (one groupBy — pair enumeration inside a cluster is
    inherently quadratic, production dedup never materializes it), then
    hamming ≤ 3 links BETWEEN clusters. The cluster join is BLOCKED on
    8-bit sketch blocks: hamming ≤ 3 means at least one of the
    HAMMING_MAX+1 = 4 blocks matches exactly (pigeonhole; Manku et al.'s
    scheme — a 64-bit production sketch uses 4×16-bit blocks), so coverage
    needs only 4 equi-joins, never a quadratic self-join. The oracle uses
    the plain quadratic form (fine at oracle SF) — results must agree
    exactly."""
    sh = _simhash32_df(spark, sf_dir)
    # Round-6: the cluster frame is materialized once — the 4 blocked
    # equi-joins each re-derived the full sketch pipeline (word explode →
    # 16-bit vote agg → cluster agg) on BOTH sides: 8 evaluations in the
    # before-plan (16 parquet scans, 17 exchanges). The frame is
    # |distinct sketches| rows — bounded by 2^16 here and tiny at any
    # corpus size, so one temp-parquet write replaces 7 recomputes.
    cl = _materialize_scan(
        sh.groupBy("simhash").agg(
            F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("rep_doc_id")
        ),
        spark,
    )
    n_blocks = _HAMMING_MAX + 1  # pigeonhole: ≤3 flipped bits miss ≥1 block
    bits_per = _SIMHASH_PAIR_BITS // n_blocks
    # Round-6: the 4 per-block equi-joins + union collapse into ONE
    # self-join on the exploded (block_idx, block_val) key — "a pair
    # matches in SOME block" is exactly equality on that composite key
    # (guide §2.4: one exchange pair + one join where four of each ran;
    # identical candidate set, the distinct dedups multi-block matches
    # either way). The exploded frame is n_blocks × |clusters| tiny rows.
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.shiftright(F.col("simhash"), i * bits_per)
                .bitwiseAND((1 << bits_per) - 1)
                .alias("blk"),
            )
            for i in range(n_blocks)
        ]
    )
    blocked = cl.select("simhash", "n_docs", F.explode(blocks).alias("bb")).select(
        "simhash", "n_docs", F.col("bb.i").alias("i"), F.col("bb.blk").alias("blk")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    pairs = a.join(
        b,
        (F.col("a.i") == F.col("b.i"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.simhash") < F.col("b.simhash")),
    ).select(
        F.col("a.simhash").alias("sketch_a"),
        F.col("b.simhash").alias("sketch_b"),
        hamming.alias("hamming"),
        F.col("a.n_docs").alias("docs_a"),
        F.col("b.n_docs").alias("docs_b"),
    )
    return (
        pairs.where(F.col("hamming") <= _HAMMING_MAX)
        .distinct()
        .orderBy("sketch_a", "sketch_b")
    )


@register(
    "corpus_curation",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
      WHERE len(text) >= 80
    ),
    kept AS (
      SELECT * FROM scored
      QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1
    )
    SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def corpus_curation(spark, sf_dir):
    """The composed training-data curation pipeline in one plan: length
    filter (scan-pushed) → exact dedup keeping min doc_id per content hash
    (one shuffle) → per-language corpus stats. The shape every LLM-corpus
    build runs at 10^12 docs; everything stays JVM-side codegen."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").where(F.length("text") >= 80)
    scored = docs.select(
        "doc_id",
        "lang",
        F.md5(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ).alias("content_hash"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    kept = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


# ===========================================================================
# 4. Embedding similarity operators
# ===========================================================================

def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f" sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )


def _cos_spark(a, b):
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id, e.label,
             round({_cos_sql("e.embedding", "q.qv")}, 4) AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine
    FROM sims
    ORDER BY cosine DESC, vec_id
    LIMIT 20
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs a query vector (the exact baseline an
    IVF/LSH path is measured against). Double-cast before arithmetic so the
    fold order matches the oracle's list_dot_product."""
    emb = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = emb.where(F.col("vec_id") == 0).select(dbl.alias("qv"))
    sims = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(_cos_spark(dbl, F.col("qv")), 4).alias("cosine"),
        )
    )
    return sims.orderBy(F.col("cosine").desc(), "vec_id").limit(20)


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH planes AS (
      SELECT p, list_transform(range(1, 65),
               d -> CASE WHEN ({_h32_sql("p::VARCHAR || '-' || d::VARCHAR")}) % 2 = 0
                         THEN 1.0 ELSE -1.0 END) AS pv
      FROM (SELECT unnest(range(0, 8)) AS p)
    )
    SELECT e.vec_id,
           sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) > 0
                    THEN (1 << pl.p::INT) ELSE 0 END)::BIGINT AS bucket
    FROM embeddings e CROSS JOIN planes pl
    GROUP BY e.vec_id
    ORDER BY e.vec_id
    """,
)
def ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucketing (sign-random-projection): 8
    md5-derived ±1 hyperplanes → 8-bit bucket id per vector. The scale path
    for ANN: bucket equi-join replaces the O(n²) cosine cross join."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = (
        spark.range(8)
        .select(F.col("id").cast("int").alias("p"))
        .select(
            "p",
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda d: F.when(
                    _h32_spark(
                        F.concat(F.col("p").cast("string"), F.lit("-"), d.cast("string"))
                    )
                    % 2
                    == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ).alias("pv"),
        )
    )
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(dbl, F.col("pv"), lambda a, b: a * b),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    return (
        emb.crossJoin(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(dot > 0, F.expr("shiftleft(1, p)")).otherwise(0)
            )
            .cast("long")
            .alias("bucket")
        )
        .orderBy("vec_id")
    )


@register(
    "embedding_near_dup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_cos_sql("a.embedding", "b.embedding")}, 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 150 AND b.vec_id < 150
      AND {_cos_sql("a.embedding", "b.embedding")} >= 0.40
    ORDER BY vec_a, vec_b
    """,
)
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (bounded self-join window; the
    LSH-bucketed variant above is the unbounded-scale path)."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 150)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    a = emb.select(F.col("vec_id").alias("vec_a"), dbl.alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), dbl.alias("eb"))
    cos = _cos_spark(F.col("ea"), F.col("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .where(cos >= 0.40)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


# ===========================================================================
# 5. Docling-operator relational skeletons over lineitem-derived bboxes
#    (SURVEY.md §2.8: J2, J6, A4, A7, A11, O1-assembly, J7-lag/lead)
# ===========================================================================

# table cells: a deterministic grid of boxes; pdf cells: smaller boxes
_TCELLS_SQL = """
      SELECT (l_orderkey % 50) AS cell_id,
             ((l_orderkey % 50) % 10) * 100.0 AS x1,
             (((l_orderkey % 50) // 10) * 60.0) AS y1,
             ((l_orderkey % 50) % 10) * 100.0 + 90.0 AS x2,
             (((l_orderkey % 50) // 10) * 60.0) + 50.0 AS y2
      FROM lineitem GROUP BY 1, 2, 3, 4, 5
"""
_PCELLS_SQL = """
      SELECT (l_orderkey * 10 + l_linenumber) AS pdf_id,
             (l_partkey % 97) * 10.0 AS px1,
             (l_suppkey % 53) * 5.0 AS py1,
             (l_partkey % 97) * 10.0 + (5.0 + (l_quantity % 40)) AS px2,
             (l_suppkey % 53) * 5.0 + (4.0 + ((l_partkey + l_suppkey) % 28)) AS py2
      FROM lineitem WHERE l_linenumber <= 3
"""


def _tcells_spark(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cid = F.col("l_orderkey") % 50
    return li.select(
        cid.alias("cell_id"),
        ((cid % 10) * 100.0).alias("x1"),
        (F.floor(cid / 10) * 60.0).alias("y1"),
        ((cid % 10) * 100.0 + 90.0).alias("x2"),
        (F.floor(cid / 10) * 60.0 + 50.0).alias("y2"),
    ).distinct()


def _pcells_spark(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") <= 3)
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pdf_id"),
        ((F.col("l_partkey") % 97) * 10.0).alias("px1"),
        ((F.col("l_suppkey") % 53) * 5.0).alias("py1"),
        ((F.col("l_partkey") % 97) * 10.0 + (5.0 + F.col("l_quantity") % 40)).alias(
            "px2"
        ),
        (
            (F.col("l_suppkey") % 53) * 5.0
            + (4.0 + (F.col("l_partkey") + F.col("l_suppkey")) % 28)
        ).alias("py2"),
    )


@register(
    "spatial_iopdf_join",
    oracle=f"""
    WITH t AS ({_TCELLS_SQL}), p AS ({_PCELLS_SQL})
    SELECT t.cell_id, p.pdf_id,
           round( (least(t.x2, p.px2) - greatest(t.x1, p.px1))
                * (least(t.y2, p.py2) - greatest(t.y1, p.py1))
                / ((p.px2 - p.px1) * (p.py2 - p.py1)), 4) AS iopdf
    FROM t JOIN p
      ON least(t.x2, p.px2) > greatest(t.x1, p.px1)
     AND least(t.y2, p.py2) > greatest(t.y1, p.py1)
    ORDER BY cell_id, pdf_id
    """,
)
def spatial_iopdf_join(spark, sf_dir):
    """J2 — the cell matcher's spatial theta-join
    (tf_cell_matcher.py:465-527) as a relational range join:
    intersection-over-pdf-cell-area score for every overlapping
    (table_cell, pdf_cell) pair. The small cell grid broadcasts; the
    probe side spreads to default parallelism (round 6 — see
    iou_match_join)."""
    t = _tcells_spark(spark, sf_dir)
    p = _spread(_pcells_spark(spark, sf_dir), "pdf_id", probe=_t(spark, sf_dir, "lineitem"))
    ix = F.least(F.col("x2"), F.col("px2")) - F.greatest(F.col("x1"), F.col("px1"))
    iy = F.least(F.col("y2"), F.col("py2")) - F.greatest(F.col("y1"), F.col("py1"))
    iopdf = ix * iy / ((F.col("px2") - F.col("px1")) * (F.col("py2") - F.col("py1")))
    return (
        p.join(F.broadcast(t), (ix > 0) & (iy > 0))
        .select("cell_id", "pdf_id", F.round(iopdf, 4).alias("iopdf"))
        .orderBy("cell_id", "pdf_id")
    )


@register(
    "iou_match_join",
    oracle=f"""
    WITH t AS ({_TCELLS_SQL}), p AS ({_PCELLS_SQL}),
    j AS (
      SELECT t.cell_id, p.pdf_id,
             (least(t.x2, p.px2) - greatest(t.x1, p.px1))
             * (least(t.y2, p.py2) - greatest(t.y1, p.py1)) AS ia,
             (t.x2 - t.x1) * (t.y2 - t.y1) AS ta,
             (p.px2 - p.px1) * (p.py2 - p.py1) AS pa
      FROM t JOIN p
        ON least(t.x2, p.px2) > greatest(t.x1, p.px1)
       AND least(t.y2, p.py2) > greatest(t.y1, p.py1)
    )
    SELECT cell_id, pdf_id, round(ia / (ta + pa - ia), 4) AS iou
    FROM j
    WHERE (ta + pa - ia) > 0 AND ia / (ta + pa - ia) >= 0.05
    ORDER BY cell_id, pdf_id
    """,
)
def iou_match_join(spark, sf_dir):
    """J3 — the cell matcher's IoU matching (tf_cell_matcher.py:529-605
    ``_iou_match``) as a relational range join: intersection-over-union
    for every overlapping (table_cell, pdf_cell) pair, kept at the
    reference's ``iou_thres`` 0.05 with its ``div_area > 0`` guard. Same
    broadcast shape as the J2 iopdf variant (the per-table cell grid is
    tiny; pdf cells stream). Round-6: the probe side spreads to default
    parallelism first — the sandbox lineitem is one sub-split parquet
    file, so the whole broadcast nested-loop probe ran as ONE task
    (same-session A/B at sf0.1: 2.30 s -> 1.19 s; no-op on real multi-
    split scans)."""
    t = _tcells_spark(spark, sf_dir)
    p = _spread(_pcells_spark(spark, sf_dir), "pdf_id", probe=_t(spark, sf_dir, "lineitem"))
    ix = F.least(F.col("x2"), F.col("px2")) - F.greatest(F.col("x1"), F.col("px1"))
    iy = F.least(F.col("y2"), F.col("py2")) - F.greatest(F.col("y1"), F.col("py1"))
    ia = ix * iy
    ta = (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    pa = (F.col("px2") - F.col("px1")) * (F.col("py2") - F.col("py1"))
    div = ta + pa - ia
    return (
        p.join(F.broadcast(t), (ix > 0) & (iy > 0))
        .where((div > 0) & (ia / div >= 0.05))
        .select("cell_id", "pdf_id", F.round(ia / div, 4).alias("iou"))
        .orderBy("cell_id", "pdf_id")
    )


@register(
    "band_orphan_join",
    oracle=f"""
    WITH t AS ({_TCELLS_SQL}), p AS ({_PCELLS_SQL}),
    bands AS (
      SELECT floor(y1 / 60.0)::BIGINT AS row_id, min(y1) AS band_y1, max(y2) AS band_y2
      FROM t GROUP BY 1
    ),
    cand AS (
      SELECT p.pdf_id, b.row_id,
             round(abs((p.py1 + p.py2) / 2 - (b.band_y1 + b.band_y2) / 2), 4) AS depth
      FROM p JOIN bands b
        ON (p.py1 + p.py2) / 2 BETWEEN b.band_y1 AND b.band_y2
    )
    SELECT pdf_id, row_id, depth FROM (
      SELECT pdf_id, row_id, depth,
             row_number() OVER (PARTITION BY pdf_id ORDER BY depth, row_id) AS rn
      FROM cand
    ) WHERE rn = 1
    ORDER BY pdf_id
    """,
)
def band_orphan_join(spark, sf_dir):
    """J6 — orphan-cell banding match
    (matching_post_processor.py:780-1144) as an interval join of pdf-cell
    centroids against per-row bands plus a min-depth window top-1 — the
    relational skeleton of the reference's nested dedupe-by-depth loops."""
    from pyspark.sql import Window

    t = _tcells_spark(spark, sf_dir)
    p = _spread(_pcells_spark(spark, sf_dir), "pdf_id", probe=_t(spark, sf_dir, "lineitem"))
    bands = (
        t.groupBy(F.floor(F.col("y1") / 60.0).cast("long").alias("row_id"))
        .agg(F.min("y1").alias("band_y1"), F.max("y2").alias("band_y2"))
    )
    cy = (F.col("py1") + F.col("py2")) / 2
    cand = p.join(
        F.broadcast(bands), cy.between(F.col("band_y1"), F.col("band_y2"))
    ).select(
        "pdf_id",
        "row_id",
        F.round(
            F.abs(cy - (F.col("band_y1") + F.col("band_y2")) / 2), 4
        ).alias("depth"),
    )
    w = Window.partitionBy("pdf_id").orderBy("depth", "row_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("pdf_id", "row_id", "depth")
        .orderBy("pdf_id")
    )


@register(
    "col_median_snap",
    oracle=f"""
    WITH p AS ({_PCELLS_SQL})
    SELECT floor(px1 / 100.0)::BIGINT AS col_id,
           count(*) AS n_cells,
           round(median(px1), 4) AS med_x,
           round(median(py1), 4) AS med_y,
           round(median(px2 - px1), 4) AS med_w
    FROM p GROUP BY 1 ORDER BY col_id
    """,
)
def col_median_snap(spark, sf_dir):
    """A4 — exact per-column medians (matching_post_processor.py:190-264).
    Python statistics.median averages the middle pair; Spark median() and
    DuckDB median() share that interpolation, so the semantics carry —
    percentile_approx would NOT (SURVEY.md §7 hard-part 5)."""
    p = _pcells_spark(spark, sf_dir)
    return (
        p.groupBy(F.floor(F.col("px1") / 100.0).cast("long").alias("col_id"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.median("px1"), 4).alias("med_x"),
            F.round(F.median("py1"), 4).alias("med_y"),
            F.round(F.median(F.col("px2") - F.col("px1")), 4).alias("med_w"),
        )
        .orderBy("col_id")
    )


@register(
    "window_top1_match",
    oracle=f"""
    WITH t AS ({_TCELLS_SQL}), p AS ({_PCELLS_SQL}),
    m AS (
      SELECT t.cell_id, p.pdf_id,
             (least(t.x2, p.px2) - greatest(t.x1, p.px1))
           * (least(t.y2, p.py2) - greatest(t.y1, p.py1))
           / ((p.px2 - p.px1) * (p.py2 - p.py1)) AS iopdf
      FROM t JOIN p
        ON least(t.x2, p.px2) > greatest(t.x1, p.px1)
       AND least(t.y2, p.py2) > greatest(t.y1, p.py1)
    )
    SELECT pdf_id, cell_id, round(iopdf, 4) AS iopdf FROM (
      SELECT pdf_id, cell_id, iopdf,
             row_number() OVER (PARTITION BY pdf_id ORDER BY iopdf DESC, cell_id) AS rn
      FROM m
    ) WHERE rn = 1 ORDER BY pdf_id
    """,
)
def window_top1_match(spark, sf_dir):
    """A7 — final match assignment (matching_post_processor.py:720-755):
    keep the best-scoring table cell per pdf cell = window top-1. Probe
    side spreads to default parallelism (round 6 — see iou_match_join)."""
    from pyspark.sql import Window

    t = _tcells_spark(spark, sf_dir)
    p = _spread(_pcells_spark(spark, sf_dir), "pdf_id", probe=_t(spark, sf_dir, "lineitem"))
    ix = F.least(F.col("x2"), F.col("px2")) - F.greatest(F.col("x1"), F.col("px1"))
    iy = F.least(F.col("y2"), F.col("py2")) - F.greatest(F.col("y1"), F.col("py1"))
    m = (
        p.join(F.broadcast(t), (ix > 0) & (iy > 0))
        .select(
            "pdf_id",
            "cell_id",
            (ix * iy / ((F.col("px2") - F.col("px1")) * (F.col("py2") - F.col("py1")))).alias(
                "iopdf"
            ),
        )
    )
    w = Window.partitionBy("pdf_id").orderBy(F.col("iopdf").desc(), "cell_id")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("pdf_id", "cell_id", F.round("iopdf", 4).alias("iopdf"))
        .orderBy("pdf_id")
    )


@register(
    "dense_rank_compaction",
    oracle="""
    SELECT col_raw, dense_rank() OVER (ORDER BY col_raw) - 1 AS col_compact
    FROM (SELECT DISTINCT (l_partkey % 37) * 3 AS col_raw FROM lineitem)
    ORDER BY col_raw
    """,
)
def dense_rank_compaction(spark, sf_dir):
    """A11 — row/col index compaction (tf_predictor.py:502-564): distinct
    raw indices → gap-free dense ranks.

    The raw index domain is bounded (a single table's row/col indices — ≤
    a few hundred; 37 here), so the dense rank is computed WITHOUT any
    window: distinct → collect_list into one sorted array (map-side
    combined, bounded by the domain) → broadcast → array_position. No
    single-partition WindowExec anywhere (round-5 fix: the old global
    window was cardinality-safe but put a `WindowExec: No Partition
    Defined` warning on every driver log). In the full pipeline this
    compaction is applied per table inside the grouped UDF (response_gen.
    compact_row_col_indexes), so no global operator ever sees large data."""
    li = _t(spark, sf_dir, "lineitem")
    distinct_ids = li.select(((F.col("l_partkey") % 37) * 3).alias("col_raw")).distinct()
    ranks = distinct_ids.agg(F.array_sort(F.collect_list("col_raw")).alias("_arr"))
    return (
        distinct_ids.join(F.broadcast(ranks))
        .select(
            "col_raw",
            (F.array_position(F.col("_arr"), F.col("col_raw")) - 1)
            .cast("int")
            .alias("col_compact"),
        )
        .orderBy("col_raw")
    )


@register(
    "reading_order_assembly",
    oracle="""
    SELECT source AS url_group, lang,
           string_agg(text, '\n\n' ORDER BY doc_id) AS doc_text,
           count(*) AS n_blocks
    FROM documents
    GROUP BY source, lang
    ORDER BY url_group, lang
    """,
)
def reading_order_assembly(spark, sf_dir):
    """O1 outer assembly (reading_order_rb.py:109-114): final document text
    = ordered concatenation of elements per document — window-free grouped
    sort-aggregate."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.col("source").alias("url_group"), "lang")
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda x: x["text"],
                ),
            ).alias("doc_text"),
            F.count(F.lit(1)).alias("n_blocks"),
        )
        .orderBy("url_group", "lang")
    )


@register(
    "caption_link_adjacency",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, event_type, ts,
             lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_id, user_id, prev_id
    FROM ordered
    WHERE event_type = 'click' AND prev_type = 'view'
    ORDER BY event_id
    """,
)
def caption_link_adjacency(spark, sf_dir):
    """J7/J8 skeleton — caption/footnote linking
    (reading_order_rb.py:117-142,610-633) as lag/lead adjacency over a
    reading-ordered sequence: link each 'click' to an immediately preceding
    'view' (label-pair scan-adjacent join)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.lag("event_id").over(w).alias("prev_id"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        ordered.where((F.col("event_type") == "click") & (F.col("prev_type") == "view"))
        .select("event_id", "user_id", "prev_id")
        .orderBy("event_id")
    )


# ===========================================================================
# 6. Flagship: end-to-end extraction byte-identity (north rule gate)
# ===========================================================================

@register(
    "extract_match",
    oracle=f"""
    SELECT {_URL_SQL} AS url,
           lang,
           1 AS is_match
    FROM documents
    ORDER BY url
    """,
)
def extract_match(spark, sf_dir):
    """North-rule gate as an oracle-checked query: synthesize pages from
    documents, run the full extraction pipeline (Arrow-batched mapInPandas),
    and emit is_match = (extracted_text == ground-truth text) per url. The
    oracle asserts every url matches byte-identically: any extraction
    regression flips is_match to 0 and fails the value hash."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from docling_ibm_models_spark.functions.html_extract import extract_main_content

    schema = StructType(
        [
            StructField("url", StringType(), False),
            StructField("lang", StringType(), True),
            StructField("is_match", IntegerType(), False),
        ]
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            matches = [
                int(extract_main_content(h)[0] == t)
                for h, t in zip(pdf["html"], pdf["text"])
            ]
            yield pd.DataFrame(
                {"url": pdf["url"], "lang": pdf["lang"], "is_match": matches}
            )

    # single narrow pass: scan (cached pages materialization — the 'table
    # already in the lake' shape) → extract → compare inside one Arrow
    # batch (no second generation, no join shuffle)
    from docling_ibm_models_spark.sources.pages_source import cached_pages

    pages = cached_pages(spark, sf_dir)
    return pages.mapInPandas(check, schema=schema).orderBy("url")


@register(
    "warc_extract_match",
    oracle=f"""
    SELECT {_URL_SQL} AS url,
           lang,
           1 AS is_match
    FROM documents
    ORDER BY url
    """,
)
def warc_extract_match(spark, sf_dir):
    """The flagship invariant through the Common-Crawl on-ramp: pages →
    WARC archives (all three wild layouts, written by a distributed
    producer job, cached like the pages table) → binaryFile scan →
    incremental WARC/gzip-member parse → the SAME extraction stage →
    byte-identical text per url vs the ground truth the generator pinned.

    Plan shape: two narrow scans (archives, truth pages) + one url-hash
    shuffle join — the verification join itself; the production extraction
    path (pages_from_warc → extract_doc_text → sink) stays zero-shuffle.
    """
    from docling_ibm_models_spark.pipeline.extract import (
        doc_text_clean,
        extract_doc_text,
    )
    from docling_ibm_models_spark.sources.pages_source import cached_pages
    from docling_ibm_models_spark.sources.warc_source import (
        cached_warc_dir,
        pages_from_warc,
    )

    wdir = cached_warc_dir(spark, sf_dir)
    extracted = doc_text_clean(extract_doc_text(pages_from_warc(spark, wdir)))
    truth = cached_pages(spark, sf_dir).select("url", "text")
    return (
        extracted.join(truth, "url")
        .select(
            "url",
            "lang",
            (F.col("extracted_text") == F.col("text")).cast("int").alias("is_match"),
        )
        .orderBy("url")
    )


@register(
    "warc_cdx_fetch",
    oracle=f"""
    SELECT {_URL_SQL} AS url,
           lang,
           1 AS is_match
    FROM documents
    WHERE {_h32_sql("(" + _URL_SQL + ")")} % 7 = 0
    ORDER BY url
    """,
)
def warc_cdx_fetch(spark, sf_dir):
    """CDX offset READ-BACK — the closing of the loop the recorded member
    offsets exist for (reference shape: sources/warc_source.py offsets ==
    Common Crawl's CDX ``offset`` field): pull individual records out of
    archives by ``(warc_file, warc_offset)`` WITHOUT scanning them.

    Plan: seekable-layout archives (record-gzip + plain — whole-file gzip
    cannot serve point fetches, which is why CC record-compresses) →
    binaryFile scan builds the CDX index (in production the index is
    already a table; the one scan here stands in for it) → deterministic
    md5-hash sample of urls (~1/7) → ``fetch_warc_bodies``: repartition by
    archive, offset-sorted seek-reads, one open per file per task → the
    SAME extraction stage → byte-identity vs ground truth per url. The
    seek-read == scan-read identity is exactly what a CDX index promises;
    compressed bytes touched per fetch are asserted in
    tests/test_warc_source.py (point fetch ≪ archive size)."""
    from docling_ibm_models_spark.pipeline.extract import (
        doc_text_clean,
        extract_doc_text,
    )
    from docling_ibm_models_spark.sources.pages_source import cached_pages
    from docling_ibm_models_spark.sources.warc_source import (
        cached_warc_dir,
        fetch_warc_bodies,
        pages_from_warc,
    )

    wdir = cached_warc_dir(spark, sf_dir, layouts=("record", "none"))
    cdx = (
        pages_from_warc(spark, wdir)
        .select("url", "warc_file", "warc_offset")
        .where(_h32_spark(F.col("url")) % 7 == 0)
    )
    fetched = fetch_warc_bodies(cdx)
    extracted = doc_text_clean(extract_doc_text(fetched))
    truth = cached_pages(spark, sf_dir).select("url", "text")
    return (
        extracted.join(truth, "url")
        .select(
            "url",
            "lang",
            (F.col("extracted_text") == F.col("text")).cast("int").alias("is_match"),
        )
        .orderBy("url")
    )


@register(
    "corpus_boilerplate_blocks",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    blk AS (
      SELECT doc_id, b::BIGINT AS block_idx,
             len(tk[b*20+1 : b*20+20])::BIGINT AS n_words,
             len(list_filter(tk[b*20+1 : b*20+20],
                             w -> w IN ('the', 'a')))::BIGINT AS stop_cnt
      FROM toks, unnest(range(0, (len(tk) + 19) // 20)) AS u(b)
    ),
    cls0 AS (
      SELECT *,
             CASE WHEN n_words < 10 OR stop_cnt = 0 THEN 'bad'
                  WHEN stop_cnt >= 2 THEN 'good'
                  ELSE 'near' END AS c0
      FROM blk
    ),
    ctx AS (
      SELECT *,
             lag(c0)  OVER (PARTITION BY doc_id ORDER BY block_idx) AS pv,
             lead(c0) OVER (PARTITION BY doc_id ORDER BY block_idx) AS nx
      FROM cls0
    )
    SELECT doc_id, block_idx, n_words, stop_cnt,
           CASE WHEN c0 <> 'near' THEN c0
                WHEN pv = 'good' OR nx = 'good' THEN 'good'
                ELSE 'bad' END AS cls
    FROM ctx ORDER BY doc_id, block_idx
    """,
)
def corpus_boilerplate_blocks(spark, sf_dir):
    """jusText-shape boilerplate/main-content block classification — the
    heuristic layer of the north rule's "HTML boilerplate strip … DOM
    heuristics" expressed as a pure relational program. Documents are
    segmented into fixed 20-token blocks (the synthetic corpus has no
    markup; over real pages the blocks are the DOM paragraph units the
    extraction kernel already emits) and each block gets the public
    jusText algorithm's two passes:

    1. context-free: stopword density + length → ``bad`` (too short or no
       stopwords), ``good`` (dense), ``near`` (borderline);
    2. context-sensitive: ``near`` blocks inherit ``good`` iff an adjacent
       block is good — boilerplate islands drown, content edges survive.

    Scale shape: block features are computed INSIDE the token array with
    ``transform``/``slice``/``filter`` lambda expressions + one ``inline``
    expansion — no explode-then-groupBy shuffle, no Python. The only
    exchange is the per-document context window (partitioned by doc_id —
    bounded partitions at any corpus size). [public jusText algorithm
    (Pomikálek 2011); engine addition]"""
    d = _t(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    nb = F.ceil(F.size(tk) / F.lit(20)).cast("int")
    blk = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda b: F.struct(
            b.cast("long").alias("block_idx"),
            F.size(F.slice(tk, b * 20 + 1, 20)).cast("long").alias("n_words"),
            F.size(
                F.filter(
                    F.slice(tk, b * 20 + 1, 20),
                    lambda w: w.isin("the", "a"),
                )
            )
            .cast("long")
            .alias("stop_cnt"),
        ),
    )
    blocks = d.select("doc_id", F.inline(blk))
    c0 = F.when(
        (F.col("n_words") < 10) | (F.col("stop_cnt") == 0), F.lit("bad")
    ).when(F.col("stop_cnt") >= 2, F.lit("good")).otherwise(F.lit("near"))
    cls0 = blocks.withColumn("c0", c0)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("block_idx")
    ctx = cls0.withColumn("pv", F.lag("c0").over(w)).withColumn(
        "nx", F.lead("c0").over(w)
    )
    return ctx.select(
        "doc_id",
        "block_idx",
        "n_words",
        "stop_cnt",
        F.when(F.col("c0") != "near", F.col("c0"))
        .when((F.col("pv") == "good") | (F.col("nx") == "good"), F.lit("good"))
        .otherwise(F.lit("bad"))
        .alias("cls"),
    ).orderBy("doc_id", "block_idx")


@register(
    "warc_wet_roundtrip",
    oracle=f"""
    SELECT {_URL_SQL} AS url,
           lang,
           1 AS is_match
    FROM documents
    ORDER BY url
    """,
)
def warc_wet_roundtrip(spark, sf_dir):
    """WET sink + source round trip — the OUTPUT side of the Common-Crawl
    on-ramp. Common Crawl publishes extracted text as WET archives (WARC
    ``conversion`` records, text/plain blocks); a 10^12-doc extraction run
    that wants to interoperate with CC tooling / downstream dedup /
    tokenizer pipelines ends in exactly that sink. The query drives the
    full loop: pages → the real extraction kernel → distributed WET writer
    (one archive per partition, all three layouts) → binaryFile scan +
    incremental conversion-record parse → byte-identity vs ground truth
    per url.

    Plan shape: the producer is a cached fixture (like the WARC corpus);
    the verified path is two narrow scans (WET archives, truth pages) +
    one url join — the verification join itself. The production sink
    (``write_wet_archives``) is a zero-shuffle one-pass map over the
    extraction output. [CC WET layout, public spec; engine addition]"""
    from docling_ibm_models_spark.sources.pages_source import cached_pages
    from docling_ibm_models_spark.sources.warc_source import (
        cached_wet_dir,
        text_from_wet,
    )

    wet_dir = cached_wet_dir(spark, sf_dir)
    got = text_from_wet(spark, wet_dir).select("url", "extracted_text")
    truth = cached_pages(spark, sf_dir).select("url", "lang", "text")
    return (
        got.join(truth, "url")
        .select(
            "url",
            "lang",
            (F.col("extracted_text") == F.col("text")).cast("int").alias("is_match"),
        )
        .orderBy("url")
    )


# ===========================================================================
# 7. Pipeline-stage queries (rows-only checks — model stages use stub
#    kernels and grouped python UDFs, not expressible as DuckDB SQL)
# ===========================================================================

def _signature(df, cols):
    """Canonical 1-row signature of a deterministic stage output: row count
    + md5 over the sorted '|'-joined string rows. NULLs are encoded with an
    explicit marker (concat_ws silently SKIPS nulls, which would let
    ('a', NULL, 'b') and ('a', 'b', NULL) collide). A TEST construct — the
    scale path is the raw stage; the collect_list here is bounded by the
    query's own doc_id filter."""
    row_str = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("␀")) for c in cols]
    )
    return df.select(row_str.alias("r")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.md5(F.concat_ws("\n", F.sort_array(F.collect_list("r")))).alias("sig"),
    )


def _layout_clusters_df(spark, sf_dir):
    from docling_ibm_models_spark.models import harness
    from docling_ibm_models_spark.models.layout_stub import default_weights
    from docling_ibm_models_spark.pipeline.stages import (
        layout_stage,
        page_records_stage,
    )
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    pages = pages_from_documents(spark, sf_dir, max_doc_id=200, parallelism=8)
    bc = harness.broadcast_weights_cached(spark, "layout_default", default_weights)
    return layout_stage(page_records_stage(pages), bc)


# Golden signatures pinned at sf0.01 (the driver's correctness SF); the
# stub stages are deterministic functions of the input, so the pinned
# value is a reproducibility/determinism gate. Regenerate after intended
# stub changes with tools/regen_pipeline_sigs.py (rewrites this dict).
_PINNED_SIGS = {
    "pipeline_layout_clusters": (1103, "d5b36eae5d9454367e840d40e7798c55"),
    "pipeline_table_cells": (104, "a61086b30d7fa2228cfb43a6abba8251"),
    "pipeline_reading_order": (595, "0b4af5e60ff2719aaf0319b2d8cbec11"),
    "pipeline_code_formula": (113, "e955e1c76c04f6e16630e56e22120963"),
    "pipeline_figure_classes": (79, "381f258853ee96d8989065a74f8b0491"),
    "pipeline_doc_assembly": (1103, "8d41000c4f0cb6cc187566c7363ae195"),
}

_SIG_ORACLE = "SELECT {n}::BIGINT AS n_rows, '{sig}' AS sig"


@register(
    "pipeline_layout_clusters",
    oracle=_SIG_ORACLE.format(
        n=_PINNED_SIGS["pipeline_layout_clusters"][0],
        sig=_PINNED_SIGS["pipeline_layout_clusters"][1],
    ),
)
def pipeline_layout_clusters(spark, sf_dir):
    """pages → page_recs → layout stage (M1 stub behind the real serving
    harness) → canonical signature of the exploded clusters (golden pinned
    at sf0.01; determinism gate across runs and parallelism levels)."""
    df = _layout_clusters_df(spark, sf_dir)
    return _signature(df, sorted(df.columns))


@register(
    "pipeline_doc_assembly",
    oracle=_SIG_ORACLE.format(
        n=_PINNED_SIGS["pipeline_doc_assembly"][0],
        sig=_PINNED_SIGS["pipeline_doc_assembly"][1],
    ),
)
def pipeline_doc_assembly(spark, sf_dir):
    """END-TO-END integration: pages → REAL layout stage → the REAL
    reading-order operator (O1-O4, reference parity) over the detected
    clusters — the closest analogue of the reference's full convert()
    path, vs pipeline_reading_order which exercises the operator over
    synthetic elements. Labels map to the docling lowercase convention;
    cid is a deterministic per-page geometric rank. Canonical signature
    pinned at sf0.01 (parallelism-independent)."""
    from pyspark.sql import Window

    from docling_ibm_models_spark.pipeline.doc_assembly import order_elements

    clusters = _layout_clusters_df(spark, sf_dir)
    win = Window.partitionBy("url", "page_no").orderBy(
        "t", "l", "r", "b", "label", "confidence"
    )
    label = F.lower(F.regexp_replace("label", "[ -]", "_"))
    elems = clusters.select(
        "url",
        "page_no",
        F.row_number().over(win).alias("cid"),
        F.concat_ws("-", label, F.row_number().over(win).cast("string")).alias("text"),
        label.alias("label"),
        "l",
        "r",
        "t",
        "b",
        F.lit(1237.0).alias("page_width"),
        F.lit(1612.0).alias("page_height"),
    )
    df = order_elements(elems, num_partitions=4).select(
        "url", "cid", "label", "reading_rank"
    )
    return _signature(df, sorted(df.columns))


@register(
    "pipeline_figure_classes",
    oracle=_SIG_ORACLE.format(
        n=_PINNED_SIGS["pipeline_figure_classes"][0],
        sig=_PINNED_SIGS["pipeline_figure_classes"][1],
    ),
)
def pipeline_figure_classes(spark, sf_dir):
    """pages → layout stage → Picture regions → M8 stage: the REAL
    reference-hardcoded preprocessing (Resize-224 PIL-bilinear → ToTensor
    → Normalize, document_figure_classifier_predictor.py:92-99) per
    region, stubbed forward seeded by the real tensor, real A13 top-k →
    canonical signature (golden pinned at sf0.01)."""
    from docling_ibm_models_spark.models import harness
    from docling_ibm_models_spark.pipeline.stages import figure_classifier_stage

    clusters = _layout_clusters_df(spark, sf_dir)
    bc = harness.broadcast_weights(spark, {})
    df = figure_classifier_stage(clusters, bc).select(
        "url", "page_no", "figure_class", "confidence",
        F.concat_ws(",", "top3").alias("top3_csv"),
    )
    return _signature(df, sorted(df.columns))


@register(
    "pipeline_code_formula",
    oracle=_SIG_ORACLE.format(
        n=_PINNED_SIGS["pipeline_code_formula"][0],
        sig=_PINNED_SIGS["pipeline_code_formula"][1],
    ),
)
def pipeline_code_formula(spark, sf_dir):
    """pages → layout stage → Code/Formula regions → M7 stage: the REAL
    ported vision path per region (SamOptImageProcessor preprocessing →
    numpy SAM ViT forward with reference parity) + deterministic generate
    seeded by the real features → canonical signature (golden pinned at
    sf0.01). Scale shape: a narrow mapInPandas over the cluster rows —
    model weights broadcast once, built once per executor."""
    from docling_ibm_models_spark.models import harness
    from docling_ibm_models_spark.models.aux_predictors import default_vision_weights
    from docling_ibm_models_spark.pipeline.stages import code_formula_stage

    clusters = _layout_clusters_df(spark, sf_dir)
    bc = harness.broadcast_weights_cached(
        spark, "code_formula_vision_default", default_vision_weights
    )
    df = code_formula_stage(clusters, bc).select(
        "url", "page_no", "label", "text", "feat_norm",
        F.round(F.element_at("feat_head", 1), 6).alias("f0"),
    )
    return _signature(df, sorted(df.columns))


def _table_cells_df(spark, sf_dir):
    from docling_ibm_models_spark.models import harness
    from docling_ibm_models_spark.models.tableformer_stub import default_weights
    from docling_ibm_models_spark.pipeline.stages import (
        page_records_stage,
        table_structure_stage,
    )
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    pages = pages_from_documents(spark, sf_dir, max_doc_id=100, parallelism=8)
    bc = harness.broadcast_weights_cached(spark, "tableformer_default", default_weights)
    tables = table_structure_stage(page_records_stage(pages), bc)
    return tables.select(
        "url", "table_id", "num_rows", "num_cols",
        F.size("table_cells").alias("n_cells"),
        F.size("otsl_seq").alias("n_tags"),
    )


@register(
    "pipeline_table_cells",
    oracle=_SIG_ORACLE.format(
        n=_PINNED_SIGS["pipeline_table_cells"][0],
        sig=_PINNED_SIGS["pipeline_table_cells"][1],
    ),
)
def pipeline_table_cells(spark, sf_dir):
    """pages → page_recs → table-structure stage (stubbed decode feeding
    the reference-parity chain incl. the ported decoder semantics) →
    canonical signature of per-table summaries (golden pinned at sf0.01)."""
    df = _table_cells_df(spark, sf_dir)
    return _signature(df, sorted(df.columns))


def _reading_order_df(spark):
    from docling_ibm_models_spark import schemas
    from docling_ibm_models_spark.pipeline.doc_assembly import order_elements
    from docling_ibm_models_spark.sources.elements_source import (
        shuffled,
        synth_page_elements,
    )

    rows = []
    for d in range(24):
        for e in shuffled(synth_page_elements(d), d * 3 + 1):
            rows.append(
                (
                    f"doc-{d}", e.page_no, e.cid, f"text-{e.cid}", e.label,
                    float(e.l), float(e.r), float(e.t), float(e.b),
                    float(e.page_width), float(e.page_height),
                )
            )
    df = _local_table(spark, rows, schemas.PAGE_ELEMENT)
    return order_elements(df, num_partitions=4).select(
        "url", "cid", "label", "reading_rank"
    )


@register(
    "pipeline_reading_order",
    oracle=_SIG_ORACLE.format(
        n=_PINNED_SIGS["pipeline_reading_order"][0],
        sig=_PINNED_SIGS["pipeline_reading_order"][1],
    ),
)
def pipeline_reading_order(spark, sf_dir):
    """Synthetic multi-column layouts → grouped reading-order stage (O1, a
    graph algorithm with TRUE parity vs the imported reference module) →
    canonical signature of the ranked elements (golden pinned; determinism
    gate across runs and parallelism — same mechanism as
    pipeline_layout_clusters)."""
    df = _reading_order_df(spark)
    return _signature(df, ["url", "cid", "label", "reading_rank"])


@register(
    "pipeline_media_meta",
    oracle="""
    SELECT doc_id::VARCHAR AS url,
           CASE WHEN text LIKE 'GIF87a%' THEN 'image/gif'
                WHEN text LIKE 'GIF89a%' THEN 'image/gif'
                WHEN text LIKE 'RIFF%' THEN 'audio/wav-or-avi'
                WHEN text LIKE 'ID3%' THEN 'audio/mpeg'
                WHEN position('%PDF' IN text) = 1 THEN 'application/pdf'
                WHEN text LIKE '<!DOCTYPE%' THEN 'text/html'
                WHEN text LIKE '<html%' THEN 'text/html'
                ELSE 'application/octet-stream' END AS mime,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash
    FROM documents ORDER BY url
    """,
)
def pipeline_media_meta(spark, sf_dir):
    """Multimodal binary-column stage (operators/multimodal.py
    media_metadata_stage): opaque binary payload → MIME magic-byte sniff +
    byte length + content hash, Arrow-batched via mapInPandas. Driven here
    over documents.text re-encoded as the binary carrier so the SAME stage
    code is fully DuckDB-oracle-checkable (the oracle mirrors the
    ASCII-reachable magic prefixes in sniff precedence order; non-ASCII
    magics like \\x89PNG cannot start valid UTF-8 text)."""
    from docling_ibm_models_spark.operators.multimodal import media_metadata_stage

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode("text", "utf-8").alias("html"),
    )
    return (
        media_metadata_stage(docs, include_features=False)
        .select("url", "mime", "n_bytes", "content_hash")
        .orderBy("url")
    )


# Deterministic per-section profiler call counts at sf0.01 (the driver's
# correctness SF), pinned like _PINNED_SIGS: the stub stages are
# deterministic functions of the input, so (section, n_calls, n_tables)
# is a reproducibility gate across runs AND parallelism levels (per-task
# counts sum to the same totals under any partitioning). Wall times are
# inherently non-deterministic and live in BENCH_DETAIL.json (every
# registered query's wall is recorded there), not in the oracle row.
# Regenerate after intended stub changes with tools/regen_pipeline_sigs.py.
_PINNED_PROFILE = (
    "(VALUES "
    "('generate_docling_response', 104, 104), "
    "('matching', 104, 104), "
    "('model_bbox_decoder', 104, 104), "
    "('model_encoder', 104, 104), "
    "('model_tag_transformer_decoder', 104, 104), "
    "('model_tag_transformer_encoder', 104, 104), "
    "('post_process', 104, 104), "
    "('predict_total', 104, 104)"
    ") AS t(section, n_calls, n_tables)"
)


@register(
    "pipeline_table_profile",
    oracle=f"SELECT section, n_calls::BIGINT AS n_calls, n_tables::BIGINT"
    f" AS n_tables FROM {_PINNED_PROFILE} ORDER BY section",
)
def pipeline_table_profile(spark, sf_dir):
    """TableFormer stage run under the reference's profiler section names
    (app_profiler.py shape; BASELINE.md comparability protocol) — returns
    the DETERMINISTIC profile dimensions (per-section call counts + table
    counts, summed across tasks) so the driver can hash-check the row;
    wall-time sums stay in BENCH_DETAIL.json where non-determinism
    belongs."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from docling_ibm_models_spark.models.tableformer_stub import (
        DeterministicTableFormer,
        default_weights,
    )
    from docling_ibm_models_spark.pipeline.stages import page_records_stage
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    schema = StructType(
        [
            StructField("section", StringType(), False),
            StructField("n_calls", LongType(), False),
            StructField("n_tables", LongType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from docling_ibm_models_spark.functions.profiler import SectionProfiler
        from docling_ibm_models_spark.models import harness

        model = harness.get_or_create(
            "tableformer", lambda: DeterministicTableFormer(default_weights())
        )
        prof = SectionProfiler()
        n = 0
        for pdf in batches:
            for r in pdf.itertuples():
                iocr = {
                    "tokens": [
                        {"id": int(t["id"]), "text": t["text"],
                         "bbox": [t["l"], t["t"], t["r"], t["b"]]}
                        for t in r.tokens
                    ],
                    "width": int(r.width),
                    "height": int(r.height),
                }
                for t_idx, bbox in enumerate(r.table_bboxes):
                    model.predict_table(
                        iocr, list(bbox), bytes(r.image or b"") + bytes([t_idx]),
                        profiler=prof,
                    )
                    n += 1
        rows = [
            {"section": k, "n_calls": int(c), "n_tables": n}
            for k, c in sorted(prof.calls.items())
        ]
        if rows:
            yield pd.DataFrame(rows)

    recs = page_records_stage(pages_from_documents(spark, sf_dir, max_doc_id=100, parallelism=8))
    per_task = recs.mapInPandas(gen, schema=schema)
    return (
        per_task.groupBy("section")
        .agg(
            F.sum("n_calls").alias("n_calls"),
            F.sum("n_tables").alias("n_tables"),
        )
        .orderBy("section")
    )


# ===========================================================================
# 8. IVF approximate-nearest-neighbor (scale path #2, besides LSH buckets)
# ===========================================================================

def _ivf_centroids(k: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic 'trained' centroids, inlined identically into the
    Spark program and the DuckDB oracle (a k-means step is just a grouped
    mean away; fixed centroids keep the oracle exact)."""
    import numpy as np

    rng = np.random.RandomState(7)
    return [[float(x) for x in np.round(rng.standard_normal(dim), 4)] for _ in range(k)]


@register(
    "ann_ivf_topk",
    oracle=(lambda cents: f"""
    WITH centroids AS (
      SELECT * FROM (VALUES
        { ", ".join(f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents)) }
      ) AS t(cid, cv)
    ),
    assign AS (
      SELECT vec_id, label, embedding, cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv)
                          * -2 + list_dot_product(c.cv, c.cv), c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    q AS (SELECT embedding AS qv, cid AS qcid FROM assign WHERE vec_id = 0),
    probe AS (
      SELECT c.cid FROM centroids c CROSS JOIN q
      ORDER BY list_dot_product(q.qv::DOUBLE[], c.cv) * -2
               + list_dot_product(c.cv, c.cv), c.cid
      LIMIT 2
    )
    SELECT a.vec_id, a.label, a.cid AS ivf_cell,
           round({_cos_sql("a.embedding", "q.qv")}, 4) AS cosine
    FROM assign a CROSS JOIN q
    WHERE a.cid IN (SELECT cid FROM probe) AND a.vec_id <> 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """)(_ivf_centroids()),
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: assign every vector to its nearest fixed centroid
    (inverted lists), probe the query's 2 nearest cells only, exact cosine
    within the probed candidates. At scale the assignment is one narrow
    pass and the probe prunes the candidate set by ~k/nprobe; the
    brute-force twin is ann_cosine_topk."""
    cents = _ivf_centroids()
    centroids = _local_table(
        spark, list(enumerate(cents)), "cid int, cv array<double>"
    )
    emb = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )

    # nearest centroid by  -2·<e,c> + <c,c>  (the ||e||² term is constant
    # per vector and cancels in the argmin). Round 1 computed this with a
    # crossJoin×k + row_number window — a full shuffle on vec_id; this is
    # the shuffle-free form: one Arrow batch matmul per partition
    # ((n,d)·(d,k) then row-argmin; np.argmin's first-match tie-break ==
    # the oracle's (score ASC, cid ASC)).
    import numpy as np
    import pandas as pd

    cmat = np.array(cents, dtype=np.float64)  # (k, d)
    cnorm = (cmat * cmat).sum(axis=1)  # <c,c>

    def _assign_batch(emb_series):
        e = np.stack([np.asarray(v, dtype=np.float64) for v in emb_series])
        scores = -2.0 * (e @ cmat.T) + cnorm
        return pd.Series(np.argmin(scores, axis=1).astype(np.int32))

    assign_cid = F.pandas_udf(_assign_batch, "int")
    assign = emb.select(
        "vec_id", "label", "embedding", assign_cid("embedding").alias("cid")
    )
    q = assign.where(F.col("vec_id") == 0).select(
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("qv")
    )
    qscore = dot(F.col("qv"), F.col("cv")) * -2 + dot(F.col("cv"), F.col("cv"))
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .orderBy(qscore.asc(), F.col("cid").asc())
        .limit(2)
        .select("cid")
    )
    dbl_a = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        assign.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.col("cid").alias("ivf_cell"),
            F.round(_cos_spark(dbl_a, F.col("qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# ===========================================================================
# 8. Web-corpus pipeline additions (round 3): as-of join, chunk-level dedup,
#    PII redaction, URL/domain analytics, deterministic sampling, PageRank
# ===========================================================================

@register(
    "events_asof_join",
    oracle="""
    WITH p AS (SELECT user_id, ts, value, event_id FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click'),
         best AS (
           SELECT c.event_id AS click_id, c.user_id AS user_id,
                  max(p.ts) AS asof_ts
           FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.ts <= c.ts
           GROUP BY 1, 2
         )
    SELECT b.click_id, b.user_id,
           coalesce(epoch_us(b.asof_ts), -1) AS asof_ts_us,
           coalesce(round(max(p.value), 2), -1.0) AS asof_val
    FROM best b LEFT JOIN p
      ON p.user_id = b.user_id AND p.ts = b.asof_ts
    GROUP BY b.click_id, b.user_id, b.asof_ts
    ORDER BY click_id
    """,
)
def events_asof_join(spark, sf_dir):
    """AS-OF join (most recent purchase at-or-before each click, per user)
    — the temporal operator Spark lacks natively, expressed as ONE shuffle:
    union both sides tagged, then a per-user running ``last(purchase
    attribute, ignorenulls)`` over (ts, tag) ordering. No range self-join,
    no per-click scan of the purchase history — state is a single running
    row per key exactly like a streaming as-of would keep. Ties (several
    purchases at the identical max ts) resolve to the max value via the
    within-ts sort, mirrored in the oracle's ``max(p.value)`` re-join.
    At 10^12 rows both sides shuffle once on user_id and the window is a
    linear scan within each key — the classic scalable as-of plan."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("is_click"), "value", "event_id"
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("double").alias("value"), "event_id",
    )
    u = p.unionByName(c)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry (ts, val) as ONE struct through a single last(): a NULL-valued
    # newest purchase must yield (its ts, -1.0), never an older purchase's
    # value paired with the newer timestamp (two independent ignorenulls
    # lasts would split exactly that way). Struct rows are non-null for
    # every purchase, so last() always lands on the newest one; within-ts
    # ties still resolve to the max value (NULLs sort first in the window
    # order, matching the oracle's NULL-ignoring max(p.value) re-join).
    purchase_rec = F.when(
        F.col("is_click") == 0,
        F.struct(
            F.unix_micros(F.col("ts")).alias("ts_us"), F.col("value").alias("val")
        ),
    )
    rec = F.last(purchase_rec, ignorenulls=True).over(w)
    out = u.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "is_click",
        F.coalesce(rec["ts_us"], F.lit(-1)).alias("asof_ts_us"),
        F.coalesce(F.round(rec["val"], 2), F.lit(-1.0)).alias("asof_val"),
    )
    return (
        out.where(F.col("is_click") == 1)
        .drop("is_click")
        .orderBy("click_id")
    )


@register(
    "corpus_hash_sample",
    oracle="""
    SELECT doc_id, lang, n_chars,
           ('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 8))::BIGINT % 20
             AS bucket
    FROM documents
    WHERE ('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 8))::BIGINT % 20 = 0
    ORDER BY doc_id
    """,
)
def corpus_hash_sample(spark, sf_dir):
    """Deterministic hash sampling (the reproducible alternative to
    ``df.sample``): keep a doc iff md5(seed|id) lands in bucket 0 of 20 —
    a 5% sample that is stable across runs, engines, partitionings and
    cluster sizes (rerunning at 10^12 rows yields the SAME sample, which
    ad-hoc rng sampling cannot). Pure narrow filter on the scan — no
    shuffle, fully pushed."""
    d = _t(spark, sf_dir, "documents")
    bucket = (_h32_spark(F.col("doc_id").cast("string"), seed="sample|") % 20).alias(
        "bucket"
    )
    return (
        d.select("doc_id", "lang", "n_chars", bucket)
        .where(F.col("bucket") == 0)
        .orderBy("doc_id")
    )


@register(
    "corpus_chunk_dedup",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS ord
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
            FROM documents)
    ),
    ch AS (
      SELECT doc_id, (ord - 1) // 5 AS chunk_idx,
             string_agg(word, ' ' ORDER BY ord) AS chunk
      FROM w GROUP BY doc_id, (ord - 1) // 5
      HAVING count(*) = 5
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(chunk), 1, 8))::BIGINT AS h FROM ch
    ),
    freq AS (SELECT h, count(*) AS c FROM hashed GROUP BY h)
    SELECT hashed.doc_id AS doc_id,
           count(*) AS n_chunks,
           count(*) FILTER (WHERE f.c > 1) AS n_dup_chunks,
           round(count(*) FILTER (WHERE f.c > 1) / count(*)::DOUBLE, 4) AS dup_frac
    FROM hashed JOIN freq f USING (h)
    GROUP BY hashed.doc_id
    ORDER BY doc_id
    """,
)
def corpus_chunk_dedup(spark, sf_dir):
    """CCNet-style chunk-level (paragraph-analogue) dedup signal: split each
    doc into consecutive 5-word chunks (ragged tail dropped), hash each
    chunk, count occurrences CORPUS-WIDE, and report the per-doc fraction
    of chunks that also occur elsewhere — the signal CCNet thresholds to
    drop boilerplate-heavy pages. Chunking is a narrow codegen expression
    (split → transform over a sequence → posexplode); the corpus-wide
    frequency is ONE groupBy on the 32-bit chunk hash with map-side
    combine, then the per-doc rollup re-groups on doc_id. At 10^12 docs:
    2 shuffles, both on well-distributed hash/id keys, no self-join and
    no array re-materialization (the hash is 8 bytes per chunk).
    [ref: CCNet (Wenzek et al. 2020) paragraph dedup; reference engine has
    no corpus-level ops — engine addition per the graft brief]"""
    d = _t(spark, sf_dir, "documents")

    # Round-6: chunking + hashing vectorized in one Arrow batch kernel —
    # the interpreted transform+slice HOF re-materialized 5 tokens per
    # chunk per step and the md5 ran on the exploded chunk strings; here
    # only the 8-byte hashes leave Python (guide §4.2 — and §2.3: narrower
    # rows into the groupBy exchange). int(md5(utf8)[:8], 16) is exactly
    # _h32_spark's conv(substr(md5(s),1,8),16,10)::long.
    def _chunk_hashes_py(texts):
        import hashlib

        import pandas as pd

        return pd.Series(
            [
                [int(hashlib.md5(c.encode("utf-8")).hexdigest()[:8], 16) for c in cs]
                for cs in _slide_join_py(texts, 5, 5, drop_tail=True, min_k=False)
            ]
        )

    u = F.pandas_udf(_chunk_hashes_py, "array<bigint>").asNondeterministic()
    hashed = _spread(d).select("doc_id", F.explode(u("text")).alias("h"))
    freq = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup = F.count(F.when(F.col("c") > 1, F.lit(1))).alias("n_dup_chunks")
    return (
        hashed.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup,
            F.round(
                F.count(F.when(F.col("c") > 1, F.lit(1))) / F.count(F.lit(1)), 4
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@register(
    "pii_redaction",
    oracle=f"""
    WITH dec AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR
                  || '@mail.example.com call +1-555-'
                  || lpad((('0x' || substr(md5('ph|' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000)::VARCHAR, 4, '0')
                  || ' from 10.'
                  || (('0x' || substr(md5('ip|' || doc_id::VARCHAR), 1, 8))::BIGINT % 256)::VARCHAR
                  || '.' ||
                  (('0x' || substr(md5('ip2|' || doc_id::VARCHAR), 1, 8))::BIGINT % 256)::VARCHAR
                  || '.7' AS body
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(body, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(body, '{_PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(body, '{_PII_IP}')) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(body,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g')) AS redacted_md5,
           len(regexp_replace(regexp_replace(regexp_replace(body,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g')) AS redacted_len
    FROM dec ORDER BY doc_id
    """,
)
def pii_redaction(spark, sf_dir):
    """PII scrubbing over web text: count and redact emails / phone numbers
    / IPv4 addresses with deterministic regexes (the patterns live in the
    RE2∩Java-regex common subset so Spark and the oracle agree literally).
    Synthetic PII is woven in deterministically from doc_id so the operator
    has non-trivial work at every SF without external data. Pure narrow
    per-row codegen string expressions — zero shuffles; at 10^12 docs this
    runs scan-speed and the redacted text would stream straight to the
    curated sink. [engine addition: standard LLM-corpus PII pass]"""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    body = F.concat(
        F.col("text"), F.lit(" contact user"), did,
        F.lit("@mail.example.com call +1-555-"),
        F.lpad((_h32_spark(did, seed="ph|") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (_h32_spark(did, seed="ip|") % 256).cast("string"),
        F.lit("."),
        (_h32_spark(did, seed="ip2|") % 256).cast("string"),
        F.lit(".7"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(body, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ),
        _PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(body, F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(body, F.lit(_PII_IP), F.lit(0))).alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).alias("redacted_len"),
    ).orderBy("doc_id")


@register(
    "domain_stats",
    oracle="""
    WITH urls AS (
      SELECT doc_id, lang, n_chars,
             'https://site'
               || (('0x' || substr(md5('dom|' || doc_id::VARCHAR), 1, 8))::BIGINT % 50)::VARCHAR
               || CASE (('0x' || substr(md5('tld|' || doc_id::VARCHAR), 1, 8))::BIGINT % 3)
                    WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
               || '/p/' || doc_id::VARCHAR || '?ref=' || lang AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id, n_chars,
             regexp_extract(url, 'https://([^/]+)/', 1) AS host,
             regexp_extract(url, '\\.(com|org|net)/', 1) AS tld,
             regexp_extract(url, 'ref=([a-z]+)$', 1) AS ref_lang
      FROM urls
    )
    SELECT tld, count(*) AS n_docs,
           count(DISTINCT host) AS n_domains,
           count(DISTINCT ref_lang) AS n_langs,
           round(avg(n_chars), 2) AS avg_chars
    FROM parsed GROUP BY tld ORDER BY tld
    """,
)
def domain_stats(spark, sf_dir):
    """URL/domain analytics over a Common-Crawl-style corpus: parse host /
    TLD / query param out of each page url (deterministically synthesized
    from doc_id — same formula in the oracle) with Spark's JVM-side
    ``parse_url``, then roll up per-TLD domain counts and means. The
    parse is narrow codegen; the rollup is one shuffle on a 3-value key
    after map-side partials, with the count(DISTINCT host) expansion
    handled by Catalyst's expand-rewrite — at 10^12 rows the distinct
    pre-aggregates per partition before the tiny final exchange."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    tld = F.element_at(
        F.array(F.lit(".com"), F.lit(".org"), F.lit(".net")),
        (_h32_spark(did, seed="tld|") % 3).cast("int") + 1,
    )
    url = F.concat(
        F.lit("https://site"),
        (_h32_spark(did, seed="dom|") % 50).cast("string"),
        tld, F.lit("/p/"), did, F.lit("?ref="), F.col("lang"),
    )
    parsed = d.select(
        "n_chars",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.regexp_extract(F.parse_url(url, F.lit("HOST")), r"\.(com|org|net)$", 1).alias("tld"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref_lang"),
    )
    return (
        parsed.groupBy("tld")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_domains"),
            F.countDistinct("ref_lang").alias("n_langs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("tld")
    )


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled power-iteration oracle: r_{k+1}(v) = 0.15/N + 0.85 *
    (Σ_{u→v} r_k(u)/outdeg(u) + dangling_k/N), five iterations, over the
    deterministic 3-out-edge hash graph. DuckDB has recursive CTEs but the
    per-iteration scalar dangling term is clearer (and engine-independent)
    unrolled — the SQL is generated, not hand-maintained."""
    n = "(SELECT count(*) FROM documents)"
    edge_sel = " UNION ALL ".join(
        f"SELECT doc_id AS src, ('0x' || substr(md5('e{j}|' || doc_id::VARCHAR), 1, 8))::BIGINT % {n} AS dst FROM documents"
        for j in (1, 2, 3)
    )
    ctes = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({edge_sel}) WHERE dst <> src)",
        "outdeg AS (SELECT src, count(*)::DOUBLE AS od FROM edges GROUP BY src)",
        f"r0 AS (SELECT doc_id, 1.0 / {n} AS r FROM documents)",
    ]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"d{k} AS (SELECT coalesce(sum({p}.r), 0) AS dm FROM {p} "
            f"LEFT JOIN outdeg ON outdeg.src = {p}.doc_id WHERE outdeg.src IS NULL)"
        )
        ctes.append(
            f"c{k} AS (SELECT e.dst AS dst, sum({p}.r / o.od) AS c FROM edges e "
            f"JOIN outdeg o ON o.src = e.src JOIN {p} ON {p}.doc_id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k} AS (SELECT d.doc_id, 0.15 / {n} + 0.85 * (coalesce(c{k}.c, 0) "
            f"+ (SELECT dm FROM d{k}) / {n}) AS r "
            f"FROM documents d LEFT JOIN c{k} ON c{k}.dst = d.doc_id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, round(r * 1000, 6) AS pr_permille FROM r{iters} ORDER BY doc_id"
    )


def _pagerank_frames(spark, sf_dir):
    """Vertex set, N scalar, out-degrees and the edges⋈outdeg frame of the
    deterministic 3-out-edge hash graph (shared by link_pagerank and the
    plan-quality test, which asserts on one UNMATERIALIZED iteration)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    n_mod = d.agg(F.count(F.lit(1)).alias("nm"))
    n_df = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    did = F.col("doc_id").cast("string")
    edges = (
        d.crossJoin(F.broadcast(n_mod))
        .select(
            "doc_id",
            F.explode(
                F.array(*[_h32_spark(did, seed=f"e{j}|") % F.col("nm") for j in (1, 2, 3)])
            ).alias("dst"),
        )
        .where(F.col("dst") != F.col("doc_id"))
        .select(F.col("doc_id").alias("src"), "dst")
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("od"))
    return d, n_df, outdeg, edges.join(outdeg, "src")


def pagerank_iteration_frame(spark, sf_dir):
    """One symbolic (unmaterialized) PageRank iteration — the plan the
    test suite audits for join strategy / no-cartesian properties."""
    d, n_df, outdeg, ew = _pagerank_frames(spark, sf_dir)
    ranks = d.crossJoin(F.broadcast(n_df)).select(
        "doc_id", (F.lit(1.0) / F.col("n")).alias("r")
    )
    dang = ranks.join(
        outdeg.select("src"), ranks["doc_id"] == F.col("src"), "left_anti"
    ).agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm"))
    contrib = (
        ew.join(ranks, ew["src"] == ranks["doc_id"])
        .groupBy("dst")
        .agg(F.sum(F.col("r") / F.col("od")).alias("c"))
        .select(F.col("dst").alias("cdst"), "c")
    )
    return (
        d.join(contrib, d["doc_id"] == F.col("cdst"), "left")
        .crossJoin(F.broadcast(dang))
        .crossJoin(F.broadcast(n_df))
        .select(
            "doc_id",
            (
                F.lit(0.15) / F.col("n")
                + F.lit(0.85)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / F.col("n"))
            ).alias("r"),
        )
    )


@register("link_pagerank", oracle=_pagerank_oracle())
def link_pagerank(spark, sf_dir):
    """PageRank (d=0.85, 5 synchronous iterations) over a deterministic
    synthetic link graph: each page links to 3 hash-derived targets
    (self-loops dropped, parallel edges deduped) — the iterative-algorithm
    shape (GraphX/Pregel class) expressed as pure DataFrame ops. Per
    iteration: one equi-join of edges with the current ranks on src, one
    groupBy(dst) re-aggregation, a broadcast 1-row dangling-mass scalar,
    and a left join back onto the vertex set — 2 well-keyed shuffles per
    iteration (the scalar travels as a broadcast cross join). Each
    iteration's ranks frame is materialized with an eager
    ``localCheckpoint`` — ranks feed BOTH the contribution join and the
    dangling-mass aggregate, so an untruncated plan doubles per iteration
    (2^5 recompute: 5.5 s at sf0.1 vs ~2.5 s truncated; lazy persist is
    WORSE here — measured 11-14 s — because the exponentially branching
    logical tree still gets re-analyzed and the broadcast-subquery
    rewrites defeat the cache-manager's plan matching). Cache hygiene:
    the final per-vertex ranks are materialized DISTRIBUTED (temp-parquet
    scan via ``_materialize_scan`` — never a driver collect), then the
    finally block unpersists the loop frames AND sweeps the checkpoint
    blocks this call created (snapshot-diff of getPersistentRDDs —
    checkpoint RDDs otherwise linger until GC); the parquet-backed result
    is independent of those blocks, so nothing cached leaks past the
    query. At 10^12 vertices the same loop runs with a reliable (HDFS)
    checkpoint every few iterations instead of localCheckpoint — same two
    shuffles per iteration, with the edge table pre-bucketed on src so the
    per-iteration join is shuffle-free on one side; iteration count is
    fixed (5) as in the batch-PageRank literature. [engine addition:
    link-graph analytics for web-corpus curation (host-level quality
    propagation)]"""
    d, n_df, outdeg, ew_lazy = _pagerank_frames(spark, sf_dir)
    ew = ew_lazy.persist()
    cached = [ew]
    jsc = spark.sparkContext._jsc
    pre_ids = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    try:
        # Round-6: the dangling-mass pass is FOLDED INTO the contribution
        # aggregation (guide §2.4 — one shuffle where two ran). The old
        # per-iteration anti-join against the unpersisted ``outdeg``
        # re-derived the whole edge subtree (scan → hash explode →
        # distinct → groupBy) every round; instead, one LEFT join of the
        # checkpointed ranks onto the persisted edge table surfaces
        # dangling vertices as dst-NULL rows, so a single groupBy(dst)
        # yields BOTH the per-target contributions AND (in the NULL
        # group) the dangling mass. The tiny aggregated frame is
        # checkpointed; the dm scalar and the contrib rows are filters
        # over it — no second distributed pass. Same r values summed per
        # group; oracle unchanged (verified exact at 6 dp both SFs).
        ranks = d.crossJoin(F.broadcast(n_df)).select(
            "doc_id", (F.lit(1.0) / F.col("n")).alias("r")
        )
        for _ in range(5):
            agg = (
                ranks.join(ew, ranks["doc_id"] == ew["src"], "left")
                .groupBy("dst")
                .agg(
                    F.sum(
                        F.when(F.col("src").isNull(), F.col("r")).otherwise(
                            F.col("r") / F.col("od")
                        )
                    ).alias("c")
                )
                .localCheckpoint(eager=True)
            )
            dang = agg.where(F.col("dst").isNull()).agg(
                F.coalesce(F.sum("c"), F.lit(0.0)).alias("dm")
            )
            contrib = agg.where(F.col("dst").isNotNull()).select(
                F.col("dst").alias("cdst"), "c"
            )
            ranks = (
                d.join(contrib, d["doc_id"] == F.col("cdst"), "left")
                .crossJoin(F.broadcast(dang))
                .crossJoin(F.broadcast(n_df))
                .select(
                    "doc_id",
                    (
                        F.lit(0.15) / F.col("n")
                        + F.lit(0.85)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("dm") / F.col("n")
                        )
                    ).alias("r"),
                )
                .localCheckpoint(eager=True)
            )
        out = ranks.select(
            "doc_id", F.round(F.col("r") * 1000, 6).alias("pr_permille")
        ).orderBy("doc_id")
        # distributed materialization (temp-parquet scan): the per-vertex
        # rank table is n_vertices rows — at 10^12 pages a collect is a
        # driver OOM; the scan survives the checkpoint-block sweep below
        return _materialize_scan(out, spark)
    finally:
        for df in cached:
            df.unpersist()
        # release the loop's localCheckpoint blocks (they otherwise live
        # until RDD GC); queries run sequentially so the id-diff only ever
        # sees this call's checkpoints
        jmap = jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) not in pre_ids:
                jmap.get(k).unpersist()


@register(
    "corpus_unigram_surprisal",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
      FROM documents
    ),
    vocab AS (SELECT word, count(*)::DOUBLE AS c FROM w GROUP BY word),
    total AS (SELECT sum(c) AS t FROM vocab)
    SELECT w.doc_id AS doc_id, count(*) AS n_tokens,
           round(avg(-ln(v.c / (SELECT t FROM total))), 4) AS surprisal
    FROM w JOIN vocab v USING (word)
    GROUP BY w.doc_id ORDER BY doc_id
    """,
)
def corpus_unigram_surprisal(spark, sf_dir):
    """CCNet-style language-model quality proxy: corpus-wide unigram
    frequencies → per-doc mean surprisal (-ln p(w)) — the cheap stand-in
    for the KenLM perplexity filter every web-corpus pipeline runs (high
    surprisal ≈ gibberish/rare-token soup, low ≈ boilerplate). Two-pass
    plan: (1) one groupBy(word) with map-side combine builds the vocab,
    (2) the exploded tokens re-join the vocab on word and re-aggregate per
    doc — 3 well-keyed shuffles total, vocabulary joined by hash equi-join
    (at 10^12 docs the vocab is Zipf-bounded ≪ corpus and could broadcast
    its head; the long tail stays a shuffle join). The total-count scalar
    rides a broadcast 1-row cross join, no driver round-trip."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    )
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    return (
        w.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("t"))), 4).alias("surprisal"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_decontaminate",
    oracle="""
    WITH bench AS (
      SELECT DISTINCT g FROM (
        SELECT doc_id, string_agg(word, ' ' ORDER BY ord) AS g
        FROM (
          SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS ord,
                 len(ws) AS n
          FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
                FROM documents WHERE doc_id % 97 = 0)
        ) t, (SELECT unnest(range(0, 200)) AS s)
        WHERE ord > s AND ord <= s + 3 AND n - s >= 3
        GROUP BY doc_id, s
      )
    ),
    hits AS (
      SELECT d.doc_id, count(DISTINCT b.g) AS n_hits
      FROM (
        SELECT doc_id, string_agg(word, ' ' ORDER BY ord) AS g
        FROM (
          SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS ord,
                 len(ws) AS n
          FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
                FROM documents WHERE doc_id % 97 <> 0)
        ) t, (SELECT unnest(range(0, 200)) AS s)
        WHERE ord > s AND ord <= s + 3 AND n - s >= 3
        GROUP BY doc_id, s
      ) d JOIN bench b ON d.g = b.g
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_hits FROM hits ORDER BY doc_id
    """,
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the GPT-3/Llama training-data pass):
    flag training docs sharing any sliding n-gram (n=3 here — real pipelines use 8-13-grams, but the synthetic vocabulary is small enough that 3-grams sit in the same collision regime; the gram length is a constant) with a held-out
    benchmark set (here: the deterministic doc_id%97 slice — no external
    data). Spark plan: both sides derive sliding n-grams with a narrow
    codegen transform over sequence(0, n-5), the benchmark side distincts
    its (small) gram set, and contamination is ONE hash semi-join shape —
    exploded training grams ⋈ benchmark grams — re-aggregated per doc
    with count(DISTINCT gram). At 10^12 docs the benchmark gram set is
    millions of rows → broadcast; training grams never self-join and the
    gram string can be replaced by its 8-byte hash on the wire. The
    oracle builds the same grams via an unnest+range window-join (an
    intentionally different formulation).

    Round-6: gram derivation moved from the interpreted Catalyst HOF
    (transform+slice per index) to the Arrow-batched ``_grams3_spark``
    kernel — measured 3.7 s → 1.1 s at sf0.1 for identical rows (the
    doc_id filters still push to the scan, so each side shingles only its
    own slice)."""
    docs = _t(spark, sf_dir, "documents")
    bench = _grams3_spark(docs.where(F.col("doc_id") % 97 == 0)).select("g").distinct()
    train = _grams3_spark(_spread(docs.where(F.col("doc_id") % 97 != 0), probe=docs))
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
        .orderBy("doc_id")
    )


@register(
    "events_skew_salted_join",
    oracle="""
    WITH tagged AS (
      SELECT CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END AS k,
             value
      FROM events
    ),
    dim AS (
      SELECT DISTINCT CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END AS k,
             (1 + CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END % 7)::DOUBLE
               AS weight
      FROM events
    )
    SELECT t.k AS k, count(*) AS n,
           round(sum(t.value * d.weight), 2) AS weighted_value
    FROM tagged t JOIN dim d ON d.k = t.k
    GROUP BY t.k ORDER BY k
    """,
)
def events_skew_salted_join(spark, sf_dir):
    """Skew-safe SALTED JOIN — the join-side twin of events_salted_agg
    (north rule: partitioning/shuffle/skew handled explicitly). The fold
    ``user_id%10==0 → key 0`` manufactures a deterministic hot key holding
    ~10% of the fact rows; a plain shuffle join would put every one of
    those rows on a single reducer. The salted plan: the fact side carries
    ``salt = pmod(xxhash64(event_id), 16)``; the (replicable) dim side is
    exploded ×16 — one copy per salt — and the join runs on (k, salt), so
    the hot key spreads over 16 reducers. Works for any big⋈small-enough-
    to-replicate pair that still exceeds the broadcast budget at 10^12
    rows (replication factor × dim ≪ fact); broadcast joins beat salting
    when the dim truly fits memory, and AQE skew-join splits cover the
    big⋈big case — this operator is the explicit fallback in between.
    Output is exactly the oracle's plain join+agg."""
    ev = _t(spark, sf_dir, "events")
    k = F.when(F.col("user_id") % 10 == 0, F.lit(0)).otherwise(F.col("user_id"))
    fact = ev.select(
        k.alias("k"),
        "value",
        F.pmod(F.xxhash64(F.col("event_id")), F.lit(_SALT_BUCKETS)).alias("salt"),
    )
    dim = (
        ev.select(k.alias("k")).distinct()
        .select("k", (1 + F.col("k") % 7).cast("double").alias("weight"))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1))))
    )
    return (
        fact.join(dim.hint("shuffle_hash"), ["k", "salt"])
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
        )
        .orderBy("k")
    )


@register(
    "events_user_value_windows",
    oracle="""
    WITH spend AS (
      SELECT user_id, round(sum(value), 2) AS total
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id, total,
           rank() OVER (ORDER BY total DESC, user_id) AS rnk,
           ntile(4) OVER (ORDER BY total DESC, user_id) AS quartile,
           round(percent_rank() OVER (ORDER BY total DESC, user_id), 6)
             AS pct_rank,
           coalesce(round(total - lag(total) OVER (ORDER BY total DESC,
                                                    user_id), 2), 0.0)
             AS gap_to_prev,
           round(sum(total) OVER (ORDER BY total DESC, user_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW), 2) AS running_total
    FROM spend ORDER BY rnk
    """,
)
def events_user_value_windows(spark, sf_dir):
    """Global window-function surface — rank / ntile / percent_rank / lag /
    running sum over per-user purchase totals in ONE total order — executed
    by the DISTRIBUTED global-order scan (operators/ordered_scan.py):
    repartitionByRange on the order (one exchange, reused), per-partition
    windows for the local values, per-partition stats recombined through a
    broadcast theta self-join over the P-row stats frame. No
    single-partition WindowExec anywhere in the plan (round-5 fix: the old
    `Window.orderBy` put the whole leaderboard in one task — fine at test
    cardinality, a one-task sort of the world at 10^12 users — and a
    `WindowExec: No Partition Defined` warning on every driver log). The
    deterministic user_id tiebreak makes the order total, which is the
    operator's contract (rank == row_number)."""
    from docling_ibm_models_spark.operators.ordered_scan import (
        global_value_rank_scan,
    )

    ev = _t(spark, sf_dir, "events")
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )
    scanned = global_value_rank_scan(spend, "total", "user_id", n_tiles=4)
    return scanned.select(
        "user_id",
        "total",
        "rnk",
        "quartile",
        F.round("pct_rank", 6).alias("pct_rank"),
        F.round("gap_to_prev", 2).alias("gap_to_prev"),
        F.round("running_total", 2).alias("running_total"),
    ).orderBy("rnk")


@register(
    "revenue_grouping_sets",
    oracle="""
    SELECT coalesce(e.event_type, '<all>') AS event_type,
           coalesce(strftime(date_trunc('day', e.ts), '%Y-%m-%d'), '<all>')
             AS day,
           grouping(e.event_type) * 2 + grouping(date_trunc('day', e.ts))
             AS gid,
           count(*) AS n, round(sum(e.value), 2) AS total
    FROM events e
    GROUP BY GROUPING SETS ((e.event_type, date_trunc('day', e.ts)),
                            (e.event_type), (date_trunc('day', e.ts)), ())
    ORDER BY gid, event_type, day
    """,
)
def revenue_grouping_sets(spark, sf_dir):
    """Full GROUPING SETS (the CUBE lattice spelled explicitly) with
    grouping_id disambiguation — one pass + Expand, not four unioned
    re-aggregations (plan-asserted alongside revenue_rollup). NULL group
    placeholders are coalesced to '<all>' so they are distinguishable
    from genuine NULL keys — the grouping() bits, not the placeholder,
    carry the lattice level."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day_ts", F.date_trunc("day", F.col("ts").cast("timestamp"))
    )
    g = ev.cube("event_type", "day_ts").agg(
        (F.grouping("event_type") * 2 + F.grouping("day_ts"))
        .cast("bigint")
        .alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )
    return (
        g.select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(
                F.date_format("day_ts", "yyyy-MM-dd"), F.lit("<all>")
            ).alias("day"),
            "gid",
            "n",
            "total",
        )
        .orderBy("gid", "event_type", "day")
    )


@register(
    "corpus_cardinality_sketch",
    oracle="""
    SELECT lang,
           count(DISTINCT ('0x' || substr(md5('fp|' || text), 1, 8))::BIGINT)
             AS exact_distinct,
           TRUE AS hll_within_5pct
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def corpus_cardinality_sketch(spark, sf_dir):
    """Sketch-based cardinality at scale: per-lang EXACT distinct content
    fingerprints (the oracle-checked ground truth) next to Spark's
    HyperLogLog++ estimate, asserted within 5% relative error (rsd=0.02
    → ~±2σ). At 10^12 docs the exact count is a full shuffle of every
    distinct fingerprint; the HLL sketch is a few KB per group,
    map-side-merged — the engine's cheap path for corpus-size dashboards.
    The boolean (not the estimate) is compared to the oracle: HLL++ is
    deterministic for a fixed input/rsd, but only the bound — not the
    estimate itself — is an engine-portable claim."""
    d = _t(spark, sf_dir, "documents")
    fp = _h32_spark(F.col("text"), seed="fp|")
    return (
        d.groupBy("lang")
        .agg(
            F.countDistinct(fp).alias("exact_distinct"),
            F.approx_count_distinct(fp, rsd=0.02).alias("hll"),
        )
        .select(
            "lang",
            "exact_distinct",
            (
                F.abs(F.col("hll") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("hll_within_5pct"),
        )
        .orderBy("lang")
    )


def _pq_codebooks(m: int = 8, k: int = 16, sub: int = 8) -> list[list[list[float]]]:
    """Deterministic 'trained' PQ codebooks: m subspaces × k centroids ×
    sub dims, inlined identically into the Spark program and the oracle
    (real PQ trains these with per-subspace k-means — a grouped mean loop
    away; fixed codebooks keep the oracle exact)."""
    import numpy as np

    rng = np.random.RandomState(11)
    return [
        [[float(x) for x in np.round(rng.standard_normal(sub), 4)] for _ in range(k)]
        for _ in range(m)
    ]


def _pq_oracle() -> str:
    cbs = _pq_codebooks()
    rows = ", ".join(
        f"({j}, {c}, {cv}::DOUBLE[])"
        for j, book in enumerate(cbs)
        for c, cv in enumerate(book)
    )
    return f"""
    WITH cb AS (SELECT * FROM (VALUES {rows}) AS t(j, c, cv)),
    dims AS (
      SELECT vec_id, (ord - 1) // 8 AS j, (ord - 1) % 8 AS p, val
      FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS val,
                   generate_subscripts(embedding, 1) AS ord
            FROM embeddings)
    ),
    dist AS (
      SELECT d.vec_id, d.j, b.c, sum((d.val - b.cv[d.p + 1]) ^ 2) AS dd
      FROM dims d JOIN cb b ON b.j = d.j
      GROUP BY d.vec_id, d.j, b.c
    ),
    codes AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, c) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT cd.vec_id, sum(l.dd) AS adc
      FROM codes cd JOIN dist l ON l.vec_id = 0 AND l.j = cd.j AND l.c = cd.c
      GROUP BY cd.vec_id
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.label, a.adc, e.embedding
      FROM adc a JOIN embeddings e USING (vec_id)
      WHERE e.vec_id <> 0
      ORDER BY a.adc, e.vec_id LIMIT 20
    )
    SELECT cand.vec_id AS vec_id, cand.label AS label,
           round(cand.adc, 4) AS adc,
           round({_cos_sql("cand.embedding", "q.qv")}, 4) AS cosine
    FROM cand CROSS JOIN q
    ORDER BY cosine DESC, vec_id LIMIT 10
    """


@register("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al.) — the fourth ANN scale
    path beside brute-force / LSH buckets / IVF: embeddings are split
    into 8 subvectors, each encoded as its nearest of 16 fixed codebook
    centroids (8 bytes per vector instead of 256), and the query scans
    CODES with an asymmetric-distance lookup table (ADC: 128 precomputed
    query-to-centroid distances), then exact-reranks the top-20 ADC
    candidates to a top-10. The encode+ADC pass is one Arrow batch per
    partition — reshape (n,8,8), one broadcasted (8,16,8) distance
    tensor, argmin per subspace (np first-match tie-break == the
    oracle's ORDER BY dd, c), LUT gather — no shuffle until the tiny
    top-k; at 10^12 vectors the 8-byte codes are the only thing the scan
    reads. Oracle: the same math relationally (exploded dims ⋈ literal
    codebooks → windowed argmin → LUT re-join)."""
    import numpy as np
    import pandas as pd

    cbs = np.asarray(_pq_codebooks(), dtype=np.float64)  # (8, 16, 8)
    emb = _t(spark, sf_dir, "embeddings")
    qv = np.asarray(
        emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0],
        dtype=np.float64,
    )
    lut = ((qv.reshape(8, 1, 8) - cbs) ** 2).sum(-1)  # (8, 16)

    def _adc_batch(emb_series):
        e = np.stack([np.asarray(v, dtype=np.float64) for v in emb_series])
        sub = e.reshape(len(e), 8, 1, 8)  # (n, m, 1, sub)
        d = ((sub - cbs[None]) ** 2).sum(-1)  # (n, 8, 16)
        codes = np.argmin(d, axis=2)  # (n, 8); first-match tie-break
        adc = lut[np.arange(8)[None, :], codes].sum(1)
        return pd.Series(adc)

    adc_batch = F.pandas_udf(_adc_batch, "double")

    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = emb.where(F.col("vec_id") == 0).select(dbl.alias("qv"))
    cand = (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", "label", "embedding", adc_batch("embedding").alias("adc_raw"))
        .orderBy("adc_raw", "vec_id")
        .limit(20)
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(F.col("adc_raw"), 4).alias("adc"),
            F.round(_cos_spark(dbl, F.col("qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           json_extract_string(props, '$.k')::INT // 10 AS k_bucket,
           count(*) AS n,
           round(avg(value), 4) AS avg_value,
           count(DISTINCT json_extract_string(props, '$.k')::INT) AS n_distinct_k
    FROM events
    GROUP BY event_type, json_extract_string(props, '$.k')::INT // 10
    ORDER BY event_type, k_bucket
    """,
)
def events_json_props(spark, sf_dir):
    """Semi-structured (JSON) columns, schema-on-read: the ``props``
    payload is parsed with ``get_json_object`` — a JVM-side codegen JSON
    path, no Python — and aggregated on an extracted bucket. At 10^12
    rows the right move is to parse ONCE into typed columns at ingest
    (``from_json`` with an explicit schema → parquet), after which the
    path expression here collapses to a column read; this query is the
    raw-scan form a first-pass exploration runs. Extraction happens
    before the grouped aggregate, so the JSON is parsed exactly once per
    row even though two aggregates use it."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", "value", k.alias("k"))
        .groupBy("event_type", F.floor(F.col("k") / 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type", "k_bucket")
    )


@register(
    "corpus_url_blocklist",
    oracle="""
    WITH urls AS (
      SELECT doc_id, lang, n_chars,
             'site' || (('0x' || substr(md5('dom|' || doc_id::VARCHAR), 1, 8))::BIGINT % 50)::VARCHAR
               AS domain
      FROM documents
    ),
    blocked AS (
      SELECT DISTINCT domain FROM urls
      WHERE ('0x' || substr(md5('block|' || domain), 1, 8))::BIGINT % 11 = 0
    )
    SELECT u.doc_id AS doc_id, u.domain AS domain, u.lang AS lang,
           u.n_chars AS n_chars
    FROM urls u LEFT JOIN blocked b ON b.domain = u.domain
    WHERE b.domain IS NULL
    ORDER BY doc_id
    """,
)
def corpus_url_blocklist(spark, sf_dir):
    """Domain blocklist filtering — the first stage of every web-corpus
    pipeline (RefinedWeb/FineWeb drop spam/adult/SEO domains before any
    text work). The blocklist is derived deterministically here (hash
    rule over the synthetic domain — no external data); in production it
    is a curated table of a few million domains: BROADCAST it and
    anti-join, so the 10^12-row pages scan never shuffles — the plan
    below is exactly that broadcast LeftAnti (plan-asserted). Filtering
    by registered domain (not full host) is deliberate: subdomain
    wildcarding comes free."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    domain = F.concat(
        F.lit("site"), (_h32_spark(did, seed="dom|") % 50).cast("string")
    )
    urls = d.select("doc_id", domain.alias("domain"), "lang", "n_chars")
    blocked = (
        urls.select("domain").distinct()
        .where(_h32_spark(F.col("domain"), seed="block|") % 11 == 0)
    )
    return (
        urls.join(F.broadcast(blocked), "domain", "left_anti")
        .select("doc_id", "domain", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "corpus_cms_heavy_hitters",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'site' || (('0x' || substr(md5('dom|' || doc_id::VARCHAR), 1, 8))::BIGINT % 50)::VARCHAR
               AS domain
      FROM documents
    ),
    truth AS (SELECT domain, count(*) AS true_n FROM urls GROUP BY domain),
    rows_ AS (SELECT unnest(range(0, 3)) AS r),
    cms AS (
      SELECT r.r AS r,
             ('0x' || substr(md5('cms' || r.r::VARCHAR || '|' || u.domain), 1, 8))::BIGINT % 32
               AS bucket,
             count(*) AS c
      FROM urls u CROSS JOIN rows_ r
      GROUP BY 1, 2
    ),
    est AS (
      SELECT t.domain, t.true_n, min(cms.c) AS cms_est
      FROM truth t JOIN rows_ r ON TRUE
      JOIN cms ON cms.r = r.r
        AND cms.bucket = ('0x' || substr(md5('cms' || r.r::VARCHAR || '|' || t.domain), 1, 8))::BIGINT % 32
      GROUP BY t.domain, t.true_n
    )
    SELECT domain, true_n, cms_est,
           CASE WHEN cms_est >= true_n THEN 1 ELSE 0 END AS never_under
    FROM est ORDER BY true_n DESC, domain LIMIT 10
    """,
)
def corpus_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters — the mergeable-sketch shape for
    "most frequent domains in a 10^12-page crawl" where an exact groupBy
    of every domain is a full shuffle of the key universe. The sketch is
    built RELATIONALLY (so the oracle is exact, not approximate-vs-exact):
    each (row r, bucket h_r(domain)%w) counter is one grouped count —
    d×w = 3×32 counters total regardless of domain cardinality, combined
    map-side; estimate(domain) = min over rows of its counter, the CMS
    guarantee being estimate ≥ true count (asserted per row in the
    output). At scale the 96-counter sketch merges associatively across
    partitions/streams (counter-wise sum) and the candidate top-k rides
    it; here the true counts are also computed to exhibit the
    overestimate. Hash family: the engine's md5-32 with per-row seeds —
    identical in both dialects."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    domain = F.concat(
        F.lit("site"), (_h32_spark(did, seed="dom|") % 50).cast("string")
    )
    urls = d.select(domain.alias("domain"))
    truth = urls.groupBy("domain").agg(F.count(F.lit(1)).alias("true_n"))
    rows_ = spark.range(3).select(F.col("id").cast("int").alias("r"))
    cms = (
        urls.crossJoin(F.broadcast(rows_))
        .groupBy(
            "r",
            (
                _h32_spark(
                    F.concat(F.lit("cms"), F.col("r").cast("string"), F.lit("|"), F.col("domain"))
                )
                % 32
            ).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probe = truth.crossJoin(F.broadcast(rows_)).select(
        "domain",
        "true_n",
        "r",
        (
            _h32_spark(
                F.concat(F.lit("cms"), F.col("r").cast("string"), F.lit("|"), F.col("domain"))
            )
            % 32
        ).alias("bucket"),
    )
    est = (
        probe.join(F.broadcast(cms), ["r", "bucket"])
        .groupBy("domain", "true_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.select(
            "domain",
            "true_n",
            "cms_est",
            F.when(F.col("cms_est") >= F.col("true_n"), 1).otherwise(0).alias("never_under"),
        )
        .orderBy(F.col("true_n").desc(), "domain")
        .limit(10)
    )


@register(
    "corpus_curation_full",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, text, n_chars,
             'site' || (('0x' || substr(md5('dom|' || doc_id::VARCHAR), 1, 8))::BIGINT % 50)::VARCHAR
               AS domain,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             length(text)::DOUBLE
               / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_tok
      FROM documents
    ),
    flagged AS (
      SELECT b.*,
             ('0x' || substr(md5('block|' || domain), 1, 8))::BIGINT % 11 = 0
               AS is_blocked,
             doc_id % 97 = 0 AS is_holdout,
             NOT (n_tokens BETWEEN 10 AND 5000 AND avg_tok BETWEEN 3 AND 12)
               AS is_lowq
      FROM base b
    ),
    s3 AS (  -- survivors of blocklist+holdout+quality
      SELECT * FROM flagged WHERE NOT is_blocked AND NOT is_holdout AND NOT is_lowq
    ),
    dedup AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
               AS is_dup
      FROM s3
    ),
    s4 AS (SELECT s3.* FROM s3 JOIN dedup USING (doc_id) WHERE NOT dedup.is_dup),
    bench_grams AS (
      SELECT DISTINCT g FROM (
        SELECT doc_id, string_agg(word, ' ' ORDER BY ord) AS g
        FROM (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS ord,
                     len(ws) AS n
              FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
                    FROM documents WHERE doc_id % 97 = 0)) t,
             (SELECT unnest(range(0, 200)) AS s)
        WHERE ord > s AND ord <= s + 3 AND n - s >= 3
        GROUP BY doc_id, s
      )
    ),
    contam AS (
      SELECT DISTINCT d.doc_id FROM (
        SELECT doc_id, string_agg(word, ' ' ORDER BY ord) AS g
        FROM (SELECT s4.doc_id, unnest(regexp_split_to_array(s4.text, '\\s+')) AS word,
                     generate_subscripts(regexp_split_to_array(s4.text, '\\s+'), 1) AS ord,
                     len(regexp_split_to_array(s4.text, '\\s+')) AS n
              FROM s4) t,
             (SELECT unnest(range(0, 200)) AS s)
        WHERE ord > s AND ord <= s + 3 AND n - s >= 3
        GROUP BY doc_id, s
      ) d JOIN bench_grams b ON d.g = b.g
    ),
    verdict AS (
      SELECT f.lang,
             CASE
               WHEN f.is_blocked THEN 'blocked'
               WHEN f.is_holdout THEN 'holdout'
               WHEN f.is_lowq THEN 'lowq'
               WHEN dd.is_dup THEN 'dup'
               WHEN c.doc_id IS NOT NULL THEN 'contaminated'
               ELSE 'kept'
             END AS stage,
             f.n_chars
      FROM flagged f
      LEFT JOIN dedup dd ON dd.doc_id = f.doc_id
      LEFT JOIN contam c ON c.doc_id = f.doc_id
    )
    SELECT lang,
           count(*) AS n_total,
           count(*) FILTER (WHERE stage = 'blocked') AS n_blocked,
           count(*) FILTER (WHERE stage = 'holdout') AS n_holdout,
           count(*) FILTER (WHERE stage = 'lowq') AS n_lowq,
           count(*) FILTER (WHERE stage = 'dup') AS n_dup,
           count(*) FILTER (WHERE stage = 'contaminated') AS n_contaminated,
           count(*) FILTER (WHERE stage = 'kept') AS n_kept,
           coalesce(round(avg(n_chars) FILTER (WHERE stage = 'kept'), 2), -1.0)
             AS avg_chars_kept
    FROM verdict GROUP BY lang ORDER BY lang
    """,
)
def corpus_curation_full(spark, sf_dir):
    """CAPSTONE: the full FineWeb/RefinedWeb-style curation recipe as ONE
    composed plan, with per-stage drop accounting — every document is
    attributed to the FIRST stage that dropped it, in pipeline order:
    (1) domain blocklist (broadcast anti-join semantics, here a flag),
    (2) benchmark holdout exclusion (the doc_id%97 slice that
        corpus_decontaminate screens against),
    (3) Gopher/C4 quality gates (quality_score's rules),
    (4) exact dedup keep-min-doc_id among survivors (one md5 window),
    (5) 3-gram benchmark decontamination of the remainder (broadcast
        gram semi-join).
    Scale shape: stages 1-3 are narrow flags on the scan; stage 4 is the
    single md5-key shuffle; stage 5 reuses the decontaminate broadcast —
    the recipe itself costs ONE wide shuffle plus the tiny per-lang
    rollup. (In this lazily-composed report the dedup window evaluates a
    second time for the drop-attribution join; a production run
    materializes the curated table after stage 5 and derives the report
    from it, so the recompute is a test-scale artifact, not the shape.)
    Per-lang report oracled exactly."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    domain = F.concat(
        F.lit("site"), (_h32_spark(did, seed="dom|") % 50).cast("string")
    )
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    avg_tok = F.length("text").cast("double") / n_tokens
    flagged = docs.select(
        "doc_id", "lang", "text", "n_chars",
        (_h32_spark(domain, seed="block|") % 11 == 0).alias("is_blocked"),
        (F.col("doc_id") % 97 == 0).alias("is_holdout"),
        (~(n_tokens.between(10, 5000) & avg_tok.between(3, 12))).alias("is_lowq"),
    )
    from pyspark.sql import Window

    s3 = flagged.where(~F.col("is_blocked") & ~F.col("is_holdout") & ~F.col("is_lowq"))
    dedup = s3.select(
        "doc_id",
        (
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            )
            > 1
        ).alias("is_dup"),
    )
    s4 = s3.join(dedup, "doc_id").where(~F.col("is_dup")).select(s3["*"])

    # Round-6: grams via the Arrow-batched _grams3_spark kernel (identical
    # rows; the interpreted transform+slice HOF was the dominant stage —
    # see corpus_decontaminate).
    bench = _grams3_spark(docs.where(F.col("doc_id") % 97 == 0)).select("g").distinct()
    contam = (
        _grams3_spark(s4).join(F.broadcast(bench), "g").select("doc_id").distinct()
        .withColumn("is_contam", F.lit(True))
    )
    stage = (
        F.when(F.col("is_blocked"), "blocked")
        .when(F.col("is_holdout"), "holdout")
        .when(F.col("is_lowq"), "lowq")
        .when(F.coalesce(F.col("is_dup"), F.lit(False)), "dup")
        .when(F.coalesce(F.col("is_contam"), F.lit(False)), "contaminated")
        .otherwise("kept")
    )
    verdict = (
        flagged.join(dedup, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select("lang", stage.alias("stage"), "n_chars")
    )
    cnt = lambda s: F.count(F.when(F.col("stage") == s, F.lit(1)))
    return (
        verdict.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            cnt("blocked").alias("n_blocked"),
            cnt("holdout").alias("n_holdout"),
            cnt("lowq").alias("n_lowq"),
            cnt("dup").alias("n_dup"),
            cnt("contaminated").alias("n_contaminated"),
            cnt("kept").alias("n_kept"),
            F.coalesce(
                F.round(F.avg(F.when(F.col("stage") == "kept", F.col("n_chars"))), 2),
                F.lit(-1.0),
            ).alias("avg_chars_kept"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           ((cum - n_tokens) // 512)::BIGINT AS seq_id,
           ((cum - n_tokens) % 512)::BIGINT AS seq_offset,
           CASE WHEN (cum - n_tokens) // 512 <> (cum - 1) // 512
                THEN 1 ELSE 0 END AS crosses_boundary
    FROM packed ORDER BY lang, doc_id
    """,
)
def corpus_sequence_packing(spark, sf_dir):
    """Sequence packing — the last step before training: assign every
    document a (seq_id, offset) slot in a stream of fixed 512-token
    training sequences, per lang shard. The deterministic running-sum
    form (cumulative tokens over doc_id order within each lang) is the
    distributed-friendly variant of greedy packing: ONE window per shard
    key, no sequential driver loop, reproducible across cluster sizes —
    and the ``crosses_boundary`` flag marks docs a packer would either
    split across sequences or pad-break (both policies read off this
    plan). At 10^12 docs the window partitions by the shard key (here
    lang; in production lang × hash-bucket) so no global ordering is ever
    materialized. [engine addition: GPT-style dataset serialization]"""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    toks = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(start / 512).alias("seq_id"),
        (start % 512).alias("seq_offset"),
        F.when(
            F.floor(start / 512) != F.floor((F.col("cum") - 1) / 512), 1
        )
        .otherwise(0)
        .alias("crosses_boundary"),
    ).orderBy("lang", "doc_id")


@register(
    "domain_typosquat",
    oracle="""
    WITH d AS (
      SELECT DISTINCT
             'site' || (('0x' || substr(md5('dom|' || doc_id::VARCHAR), 1, 8))::BIGINT % 50)::VARCHAR
               AS domain
      FROM documents
    )
    SELECT a.domain AS domain_a, b.domain AS domain_b,
           levenshtein(a.domain, b.domain) AS dist
    FROM d a JOIN d b ON a.domain < b.domain
    WHERE levenshtein(a.domain, b.domain) <= 1
       AND abs(length(a.domain) - length(b.domain)) <= 1
    ORDER BY domain_a, domain_b
    """,
)
def domain_typosquat(spark, sf_dir):
    """Typosquat / near-duplicate domain detection: pairs of distinct
    domains within levenshtein distance 1 — the crawl-hygiene pass that
    catches look-alike hosts before they pollute dedup keys. The
    length-difference prefilter (|len(a)-len(b)| ≤ 1, a necessary
    condition for distance ≤ 1) is the standard blocking trick: at a
    few hundred million distinct domains the self-join runs per
    (length-band, first-char) block, never all-pairs — here the domain
    universe is tiny so the blocked join is also the whole join. Both
    engines' levenshtein are the classic unit-cost edit distance, so the
    oracle is exact."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    domain = F.concat(
        F.lit("site"), (_h32_spark(did, seed="dom|") % 50).cast("string")
    )
    doms = d.select(domain.alias("domain")).distinct()
    a = doms.select(F.col("domain").alias("domain_a"))
    b = doms.select(F.col("domain").alias("domain_b"))
    lev = F.levenshtein(F.col("domain_a"), F.col("domain_b"))
    return (
        a.join(
            b,
            (F.col("domain_a") < F.col("domain_b"))
            & (
                F.abs(F.length("domain_a") - F.length("domain_b")) <= 1
            ),
        )
        .where(lev <= 1)
        .select("domain_a", "domain_b", lev.alias("dist"))
        .orderBy("domain_a", "domain_b")
    )


@register(
    "events_pivot_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1 ORDER BY day
    """,
)
def events_pivot_daily(spark, sf_dir):
    """PIVOT surface: daily event counts spread into one column per type.
    The type list is passed EXPLICITLY to ``pivot`` — with it, Catalyst
    compiles straight to one hash aggregate with conditional counts (the
    same Expand-free plan the oracle's FILTER clauses spell out); without
    it, Spark first runs a blocking distinct-values job. At 10^12 rows
    the explicit list is the difference between one pass and two."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts").cast("timestamp")), "yyyy-MM-dd")
    return (
        ev.groupBy(day.alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("day")
    )


@register(
    "events_user_segments",
    oracle="""
    WITH clickers AS (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'click'),
         buyers AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'purchase'),
         viewers AS (SELECT DISTINCT user_id FROM events
                     WHERE event_type = 'view'),
         both_ AS (SELECT user_id FROM clickers INTERSECT
                   SELECT user_id FROM buyers),
         browse_only AS (SELECT user_id FROM viewers EXCEPT
                         SELECT user_id FROM clickers EXCEPT
                         SELECT user_id FROM buyers)
    SELECT 'click_and_buy' AS segment, count(*) AS n_users FROM both_
    UNION ALL
    SELECT 'view_only', count(*) FROM browse_only
    ORDER BY segment
    """,
)
def events_user_segments(spark, sf_dir):
    """Set-operation surface: INTERSECT (users who both click and buy)
    and chained EXCEPT (view-only users) — Catalyst rewrites both to
    semi/anti hash joins over the deduplicated key sets, so the physical
    plan carries no sort-based set operator; at 10^12 rows each leg is
    one distinct shuffle reused across the set expressions."""
    ev = _t(spark, sf_dir, "events")

    def keys(t):
        return ev.where(F.col("event_type") == t).select("user_id").distinct()

    both = keys("click").intersect(keys("purchase"))
    browse_only = keys("view").exceptAll(keys("click")).exceptAll(keys("purchase"))
    return (
        both.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("click_and_buy").alias("segment"), "n_users")
        .unionByName(
            browse_only.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("view_only").alias("segment"), "n_users"
            )
        )
        .orderBy("segment")
    )


@register(
    "corpus_bigram_lm",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS ord
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
            FROM documents)
    ),
    bi AS (
      SELECT a.word AS w1, b.word AS w2, count(*) AS c
      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
      GROUP BY a.word, b.word
    ),
    uni AS (SELECT w1, sum(c) AS cw1 FROM bi GROUP BY w1)
    SELECT bi.w1 AS w1, bi.w2 AS w2, bi.c AS c,
           round(bi.c / uni.cw1::DOUBLE, 4) AS p_w2_given_w1
    FROM bi JOIN uni USING (w1)
    ORDER BY c DESC, w1, w2 LIMIT 20
    """,
)
def corpus_bigram_lm(spark, sf_dir):
    """Bigram language-model table — the n-gram-LM construction step
    (KenLM-style corpora start exactly here): adjacent-token pairs
    counted corpus-wide, conditional probability P(w2|w1) from the
    bigram/left-marginal ratio, top-20 by count with a total ordering.
    Spark derives bigrams with a NARROW zip of each doc's token array
    against its own tail (arrays_zip + explode — no self-join; the
    oracle deliberately uses the positional self-join formulation), so
    the only shuffles are the bigram groupBy and the tiny marginal
    re-agg, both map-side combined. At 10^12 docs the bigram table is
    the classic count-then-prune pipeline; the df-cap trick
    dedup_ngram_jaccard uses applies unchanged when pruning is needed."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))).alias("w1"),
                F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uni = bi.groupBy("w1").agg(F.sum("c").alias("cw1"))
    return (
        bi.join(uni, "w1")
        .select(
            "w1", "w2", "c",
            F.round(F.col("c") / F.col("cw1").cast("double"), 4).alias("p_w2_given_w1"),
        )
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(20)
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             1.0 + ({_h32_sql("(l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR)")} % 100000) / 100.0
               AS ps_supplycost
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    )
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - ps.ps_supplycost * l.l_quantity), 2) AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_profit(spark, sf_dir):
    """Q9 product-type profit — the last missing TPC-H shape (22/22).
    The corpus ships no partsupp table, so a deterministic one is DERIVED:
    the distinct (partkey, suppkey) pairs of lineitem with
    ``ps_supplycost = 1 + (H(pk||'|'||sk) % 100000)/100`` (the shared
    32-bit md5 hash, identical in both dialects) — same columns and join
    role as TPC-H's partsupp, synthesized instead of loaded. The plan is
    the canonical q9: the p_name filter prunes the part dim BEFORE its
    broadcast join onto the fact, supplier/nation broadcast, the derived
    partsupp joins back on the composite (partkey, suppkey) key it was
    aggregated on (partitioning reuse — no extra shuffle), and the final
    rollup is one hash aggregate on (nation, year). At 100 TB a real
    partsupp would be a bucketed table on the same composite key."""
    li = _t(spark, sf_dir, "lineitem")
    # Round-6: the derived partsupp row is a PURE FUNCTION of the join key
    # — ps_supplycost = 1 + H(pk||'|'||sk)%100000/100 with exactly one row
    # per distinct (pk, sk) — so the distinct + composite-key hash join
    # re-attached to each lineitem row precisely the value the row can
    # compute itself. Inlining the expression removes the distinct shuffle
    # and the fact-side join outright (2 Exchanges fewer; guide §2.4
    # "remove shuffles outright"); a REAL partsupp load would keep the
    # bucketed-join shape the docstring describes. Same arithmetic per
    # row, oracle unchanged.
    li = li.withColumn(
        "ps_supplycost",
        1.0
        + _h32_spark(F.concat_ws("|", F.col("l_partkey"), F.col("l_suppkey")))
        % 100000
        / 100.0,
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ===========================================================================
# Round-4 additions: stratified sequence packing, SemDeDup-style embedding
# cluster stats, cohort retention, ordered funnel
# ===========================================================================

@register(
    "corpus_sequence_packing_stratified",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {_h32_sql("'shard|' || doc_id::VARCHAR")} % 8 AS shard,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT doc_id, lang, shard, n_tokens,
           ((cum - n_tokens) // 512)::BIGINT AS seq_id,
           ((cum - n_tokens) % 512)::BIGINT AS seq_offset,
           CASE WHEN (cum - n_tokens) // 512 <> (cum - 1) // 512
                THEN 1 ELSE 0 END AS crosses_boundary
    FROM packed ORDER BY lang, shard, doc_id
    """,
)
def corpus_sequence_packing_stratified(spark, sf_dir):
    """Per-language STRATIFIED sequence packing — the production shape the
    base ``corpus_sequence_packing`` docstring promises: the shard key is
    ``lang × hash-bucket``, so each language's token stream packs into its
    own fixed-512 sequences AND the running-sum window partitions by a key
    whose cardinality scales with the corpus (8 buckets here; thousands at
    100 TB). That bounds every window partition to corpus_size/(langs ×
    buckets) rows — no window partition ever approaches driver or executor
    memory, while packing stays deterministic (bucket = md5 of doc_id, the
    cross-engine common hash) and reproducible across cluster sizes.
    [engine addition: GPT-style dataset serialization, stratified]"""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    toks = docs.select(
        "doc_id",
        "lang",
        (_h32_spark(F.col("doc_id").cast("string"), seed="shard|") % 8).alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.floor(start / 512).alias("seq_id"),
        (start % 512).alias("seq_offset"),
        F.when(F.floor(start / 512) != F.floor((F.col("cum") - 1) / 512), 1)
        .otherwise(0)
        .alias("crosses_boundary"),
    ).orderBy("lang", "shard", "doc_id")


@register(
    "embedding_semdedup",
    oracle="""
    WITH longf AS (
      SELECT e.vec_id, e.label, d.range AS pos, e.embedding[d.range]::DOUBLE AS v
      FROM embeddings e, range(1, 65) d
    ),
    cent AS (
      SELECT label, pos, round(avg(v), 6) AS c
      FROM longf GROUP BY label, pos
    ),
    cv AS (
      SELECT label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY label
    ),
    sims AS (
      SELECT e.vec_id, e.label,
             round(list_dot_product(e.embedding::DOUBLE[], cv.cvec) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(cv.cvec, cv.cvec))), 4) AS centroid_cos
      FROM embeddings e JOIN cv USING (label)
    )
    SELECT vec_id, label, centroid_cos,
           row_number() OVER (PARTITION BY label
                              ORDER BY centroid_cos DESC, vec_id)
             AS rank_in_cluster
    FROM sims ORDER BY label, rank_in_cluster
    """,
)
def embedding_semdedup(spark, sf_dir):
    """SemDeDup-style cluster-centroid proximity (Abbas et al. 2023,
    arXiv:2303.09540): per cluster (``label`` stands in for the k-means
    assignment), compute the centroid, then every member's cosine to its
    centroid and its within-cluster proximity rank — the signal SemDeDup
    thresholds to drop semantic duplicates near the centroid.

    Scale shape: the centroid pass is posexplode → groupBy(label, pos) —
    the explode is a narrow pipelined op and map-side partial agg reduces
    each task's contribution to (labels × dim) partial sums, so the
    shuffle carries ~k·d rows regardless of corpus size. The tiny centroid
    table is then broadcast back and the cosine evaluates JVM-side
    (zip_with/aggregate) with no second pass over exploded data.
    Centroid components round to 6 dp before the cosine so both engines
    fold identical arrays; ranks order by the ROUNDED cosine with vec_id
    tiebreak (cross-engine total order)."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    longf = emb.select(
        "label", F.posexplode(dbl).alias("pos", "v")
    )
    cent = longf.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("c"))
    cv = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s["c"]).alias("cvec"))
    )
    sims = (
        emb.join(F.broadcast(cv), "label")
        .select(
            "vec_id",
            "label",
            F.round(_cos_spark(dbl, F.col("cvec")), 4).alias("centroid_cos"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("centroid_cos").desc(), "vec_id")
    return sims.withColumn("rank_in_cluster", F.row_number().over(w)).orderBy(
        "label", "rank_in_cluster"
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, ts::DATE AS day FROM events
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           date_diff('day', f.cohort_day, a.day) AS day_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY f.cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity day,
    counted per day-offset of later activity — the standard engagement
    rollup every event pipeline ships. Two shuffles, both on user_id
    (first-day agg + the distinct), then one small agg on (cohort, offset);
    at 10^12 events both user_id shuffles benefit from map-side combine
    and AQE skew splitting, and the result is O(days²) rows regardless of
    input size. Dates compared as formatted strings (determinism rule)."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT '1_view' AS stage, count(*) AS n_users FROM v
      UNION ALL SELECT '2_click_after_view', count(*) FROM c
      UNION ALL SELECT '3_purchase_after_click', count(*) FROM p
    ) ORDER BY stage
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase, strictly
    later timestamps): per stage, the count of users who completed the
    prefix in order. Each stage is a keyed agg plus an equi-join on
    user_id against the previous stage's (user, first-completion-time)
    frame — the sequential constraint lives in the join filter, never in
    a per-user sort or collect_list. All three shuffles key on user_id,
    so AQE coalesces them into one exchange reuse at scale; stage frames
    shrink monotonically (funnel property), making the later joins
    broadcast-eligible in real workloads."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        v.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("1_view").alias("stage"), "n_users"
        ),
        c.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("2_click_after_view").alias("stage"), "n_users"
        ),
        p.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("3_purchase_after_click").alias("stage"), "n_users"
        ),
    ]
    out = counts[0]
    for frame in counts[1:]:
        out = out.unionByName(frame)
    return out.orderBy("stage")


@register(
    "corpus_incremental_dedup",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, lang,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
               AS content_hash
      FROM documents
    ),
    hist AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id < 250),
    batch AS (SELECT * FROM hashed WHERE doc_id >= 250)
    SELECT b.content_hash, min(b.doc_id) AS keep_doc_id,
           count(*) AS n_batch_dups
    FROM batch b
    WHERE b.content_hash NOT IN (SELECT content_hash FROM hist)
    GROUP BY b.content_hash
    ORDER BY content_hash
    """,
)
def corpus_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup — the daily-crawl shape: a NEW batch of
    documents deduplicated (a) against the historical lake's hash table
    and (b) within itself (keep-min), emitting only genuinely-new
    keepers. Here history = doc_id < 250 and the batch is the rest (a
    deterministic split standing in for yesterday's snapshot vs today's
    arrivals).

    Plan: one left_anti equi-join on the 16-byte hash (history side is a
    DISTINCT hash projection — at 10^12 historical docs that column scan
    is the whole read, no payloads move), then the batch-local
    groupBy(hash) keep-min. Both shuffles key on content_hash, so AQE
    reuses one exchange. At scale the anti-join's history side is first
    reduced by a bloom/IN-filter pushed to the batch scan (Spark's
    runtime row-group filtering); the hash table itself can live bucketed
    by content_hash (a catalog table written with ``bucketBy``), making
    the anti-join shuffle-free on the history side. [engine addition:
    incremental crawl ingestion]"""
    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "lang",
        F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")).alias(
            "content_hash"
        ),
    )
    hist = hashed.where(F.col("doc_id") < 250).select("content_hash").distinct()
    batch = hashed.where(F.col("doc_id") >= 250)
    return (
        batch.join(hist, "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_batch_dups"),
        )
        .orderBy("content_hash")
    )


@register(
    "events_rolling_24h",
    oracle="""
    SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ep,
           round(sum(value) OVER w, 2) AS roll_sum_24h,
           count(*) OVER w AS roll_cnt_24h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
                 RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ep, event_id
    """,
)
def events_rolling_24h(spark, sf_dir):
    """Per-user 24-hour ROLLING aggregates — the RANGE (value-interval)
    window frame, the one window shape rows-frames can't express: the
    frame holds every event whose timestamp falls in (t-24h, t], however
    many rows that is. Ordering by epoch seconds keeps the frame
    arithmetic integer-identical across engines, and RANGE frames make
    same-timestamp peers all see the same aggregate (order-independent,
    so no tiebreak is needed for determinism of the VALUES — only the
    output sort carries the event_id tiebreak). One shuffle on user_id +
    one per-partition sort; at 10^12 events this is the canonical
    "sliding features over user history" shape feeding feature stores,
    and AQE skew-split handles hot users."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn(
        "ep", F.unix_timestamp("ts").cast("long")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-86399, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ep",
            F.round(F.sum("value").over(w), 2).alias("roll_sum_24h"),
            F.count(F.lit(1)).over(w).alias("roll_cnt_24h"),
        )
        .orderBy("user_id", "ep", "event_id")
    )


@register(
    "dedup_substring_windows",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    wins AS (
      SELECT doc_id,
             ('0x' || substr(md5(array_to_string(t[i + 1 : i + 8], ' ')), 1, 8))::BIGINT AS h
      FROM (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i FROM toks)
    ),
    stats AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM wins GROUP BY h)
    SELECT w.doc_id AS doc_id,
           count(*) AS n_windows,
           sum((s.ndocs >= 2)::BIGINT)::BIGINT AS n_dup_windows,
           round(sum((s.ndocs >= 2)::BIGINT) / count(*)::DOUBLE, 4) AS dup_frac
    FROM wins w JOIN stats s USING (h)
    GROUP BY w.doc_id ORDER BY doc_id
    """,
)
def dedup_substring_windows(spark, sf_dir):
    """Exact-substring duplication detector in the style of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): every
    k-token window (k=8 here; 50 at production) is hashed, windows whose
    hash occurs in >=2 DISTINCT documents are duplicated substrings, and
    each doc reports its duplicated-window fraction — the per-doc signal
    the paper's ExactSubstr cut uses. The reference's single-node analogue
    would be a suffix array; the distributed-standard formulation is this
    windowed hash: one wide groupBy(h) with map-side combine builds the
    window-frequency table (|windows| ~ |tokens|, the canonical shuffle),
    one hash join back on h re-attaches frequencies (AQE reuses the
    exchange — both sides are partitioned by h), one per-doc re-agg. No
    pairwise comparisons anywhere, so 100x the corpus scales the shuffle
    linearly. The window string itself never shuffles — only its 32-bit
    hash + doc_id ride the exchange."""
    k = 8
    docs = _t(spark, sf_dir, "documents")

    # Round-6: window hashing vectorized in one Arrow batch kernel — the
    # interpreted transform ran slice+concat_ws+md5 per window per row;
    # here only the 8-byte window hashes leave Python (guide §4.2).
    # Tokenization mirrors filter(split(text,'\s+'), x -> x != '') and
    # int(md5(utf8)[:8], 16) is _h32_spark's conv chain; docs with < k
    # tokens emit no windows, exactly like the former where(size >= k).
    def _win_hashes_py(texts):
        import hashlib
        import re

        import pandas as pd

        ws_re = re.compile(r"\s+")
        out = []
        for t in texts:
            w = [x for x in ws_re.split(t)] if t is not None else []
            w = [x for x in w if x != ""]
            if len(w) < k:
                out.append([])
                continue
            out.append(
                [
                    int(
                        hashlib.md5(
                            " ".join(w[i : i + k]).encode("utf-8")
                        ).hexdigest()[:8],
                        16,
                    )
                    for i in range(len(w) - k + 1)
                ]
            )
        return pd.Series(out)

    u = F.pandas_udf(_win_hashes_py, "array<bigint>").asNondeterministic()
    wins = _spread(docs).select("doc_id", F.explode(u("text")).alias("h"))
    stats = wins.groupBy("h").agg(F.count_distinct("doc_id").alias("ndocs"))
    # Round-6: the frequency join is pinned SHUFFLE_HASH so both sides
    # hash-partition on h and the wins exchange is SHARED (ReusedExchange)
    # — the planner's broadcast of `stats` evaluated the window-hash
    # kernel twice (build + probe) with no reuse. This is also the
    # docstring's claimed shape; at corpus scale stats ~ |distinct
    # windows| never broadcasts anyway. A/B: 1.75→1.58 s.
    return (
        wins.join(stats.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("ndocs") >= 2).cast("long")).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows").cast("double"), 4
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_perplexity_filter",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS ord
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
            FROM documents)
    ),
    dbi AS (
      SELECT a.doc_id, a.word AS w1, b.word AS w2
      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
    ),
    bi AS (SELECT w1, w2, count(*)::DOUBLE AS c FROM dbi GROUP BY w1, w2),
    uni AS (SELECT w1, sum(c) AS cw1 FROM bi GROUP BY w1)
    SELECT d.doc_id AS doc_id, count(*) AS n_bigrams,
           round(avg(-ln(bi.c / uni.cw1)), 4) AS bigram_nll,
           (round(avg(-ln(bi.c / uni.cw1)), 4) > 3.45)::INT AS flagged
    FROM dbi d JOIN bi USING (w1, w2) JOIN uni USING (w1)
    GROUP BY d.doc_id ORDER BY doc_id
    """,
)
def corpus_perplexity_filter(spark, sf_dir):
    """LM-perplexity quality filter (CCNet's second stage, KenLM stand-in):
    score every document by its mean bigram negative log-likelihood under
    the corpus's own bigram model and flag high-perplexity docs. Composes
    the corpus_bigram_lm construction with a score-and-flag pass: per-doc
    bigrams come from the NARROW self-zip (no positional self-join on the
    Spark side), the count tables are two map-side-combined groupBys, and
    scoring is one equi-join back on (w1, w2) + a per-doc re-agg. The
    bigram-count table is Zipf-concentrated, so at 10^12 docs its head
    broadcasts and only the long tail rides the shuffle join; every
    probability is seen>=1 by construction (scored corpus == training
    corpus), so no smoothing constant has to match across engines."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    dbi = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))).alias("w1"),
                F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))).alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bi = dbi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c"))
    uni = bi.groupBy("w1").agg(F.sum("c").alias("cw1"))
    nll = F.round(F.avg(-F.log(F.col("c") / F.col("cw1"))), 4)
    # Round-6: the bigram-count join is pinned SHUFFLE_HASH (guide §3.1).
    # The planner otherwise broadcasts `bi`, which evaluates the dbi
    # explode subtree TWICE (once under the broadcast, once as probe) with
    # no exchange reuse; with both sides hashed on (w1, w2) the dbi
    # exchange is shared (ReusedExchange — the bigram derivation runs
    # once) and no sort is paid. At 10^12 tokens the bigram table exceeds
    # any broadcast budget anyway, so SHJ is also the scale shape; `uni`
    # (vocab-sized) is left to the planner. Same-session A/B: 1.14→0.90 s.
    return (
        dbi.join(bi.hint("shuffle_hash"), ["w1", "w2"])
        .join(uni, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            nll.alias("bigram_nll"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "bigram_nll",
            (F.col("bigram_nll") > 3.45).cast("int").alias("flagged"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_line_dedup",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS ord
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
            FROM documents)
    ),
    ln AS (
      SELECT doc_id, (ord - 1) // 10 AS line_idx,
             string_agg(word, ' ' ORDER BY ord) AS line
      FROM w GROUP BY doc_id, (ord - 1) // 10
    ),
    hashed AS (
      SELECT doc_id, line_idx, line,
             ('0x' || substr(md5(line), 1, 8))::BIGINT AS h
      FROM ln
    ),
    keep AS (
      SELECT h, min(doc_id * 1000000 + line_idx) AS keep_pos
      FROM hashed GROUP BY h
    )
    SELECT hashed.doc_id AS doc_id,
           count(*) AS n_lines,
           count(*) FILTER (
             WHERE hashed.doc_id * 1000000 + hashed.line_idx = k.keep_pos
           ) AS n_kept,
           coalesce(string_agg(hashed.line, ' ' ORDER BY hashed.line_idx)
             FILTER (WHERE hashed.doc_id * 1000000 + hashed.line_idx
                           = k.keep_pos), '') AS clean_text
    FROM hashed JOIN keep k USING (h)
    GROUP BY hashed.doc_id
    ORDER BY doc_id
    """,
)
def corpus_line_dedup(spark, sf_dir):
    """C4-style corpus-wide line deduplication that MUTATES the corpus:
    split each doc into consecutive 10-word lines (ragged tail kept — it
    is still text), hash each line, keep only the globally FIRST
    occurrence (min (doc_id, line_idx)) of every distinct line, and
    reassemble each doc's surviving lines into ``clean_text``. This is
    the step C4 (Raffel et al. 2020, §2.2 "we discard all but one of any
    three-sentence span occurring more than once") applies to Common
    Crawl; `corpus_chunk_dedup` only *scores* duplication — this one
    rewrites the documents.

    Scale shape: the first-occurrence winner is a ``min(struct(doc_id,
    line_idx))`` groupBy on the 32-bit line hash — map-side combinable,
    so a boilerplate line repeated 10^9 times collapses to one row per
    map task BEFORE the shuffle (a row_number window over h would instead
    sort the full hot partition). The re-join on h is skew-safe under AQE
    because the aggregated side carries exactly one row per key; the
    reassembly re-groups on doc_id (well distributed). 2 keyed shuffles
    total at 10^12 docs, no self-join, no window sort.
    [ref: C4 dedup rule, public literature; reference engine has no
    corpus ops — engine addition per the graft brief]"""
    d = _t(spark, sf_dir, "documents")

    # Round-6: line derivation via the Arrow-batched sliding kernel
    # (ragged tail kept = no tail drop, step == width); the line STRING
    # must survive for the clean_text reassembly, so the 32-bit hash stays
    # the JVM codegen _h32_spark over the exploded column — only the
    # interpreted transform+slice HOF is replaced.
    def _lines10_py(texts):
        import pandas as pd

        return pd.Series(_slide_join_py(texts, 10, 10, drop_tail=False, min_k=False))

    u = F.pandas_udf(_lines10_py, "array<string>").asNondeterministic()
    hashed = _spread(d).select(
        "doc_id", F.posexplode(u("text")).alias("line_idx", "line")
    ).withColumn("h", _h32_spark(F.col("line")))
    # first occurrence per distinct line: map-side-combinable min-struct agg
    keep = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "line_idx")).alias("keep_pos")
    )
    joined = hashed.join(keep, "h").withColumn(
        "is_kept",
        (F.col("doc_id") == F.col("keep_pos.doc_id"))
        & (F.col("line_idx") == F.col("keep_pos.line_idx")),
    )
    kept_line = F.when(F.col("is_kept"), F.col("line"))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(kept_line).alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("is_kept"),
                                    F.struct("line_idx", "line"),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


_GOPHER_STOPWORDS = ["the", "a", "of", "and", "to", "in"]


@register(
    "corpus_gopher_rules",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(ws) AS word
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
            FROM documents)
    ),
    per AS (
      SELECT doc_id,
             count(*) AS n_words,
             round(avg(length(word)), 4) AS mean_word_len,
             round(count(*) FILTER (WHERE regexp_matches(word, '[A-Za-z]'))
                   / count(*)::DOUBLE, 4) AS alpha_frac,
             count(DISTINCT word) FILTER (
               WHERE word IN ('the', 'a', 'of', 'and', 'to', 'in')
             ) AS n_stopwords,
             round(count(*) FILTER (WHERE regexp_matches(word, '[#…]'))
                   / count(*)::DOUBLE, 4) AS symbol_frac
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
           symbol_frac,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND alpha_frac >= 0.8 AND n_stopwords >= 2
            AND symbol_frac <= 0.1)::INT AS gopher_pass
    FROM per ORDER BY doc_id
    """,
)
def corpus_gopher_rules(spark, sf_dir):
    """Gopher document-quality rules (Rae et al. 2021, Table A1): word
    count in [50, 100k], mean word length in [3, 10], >=80% of words
    contain an alphabetic character, >=2 distinct stopwords present, and
    symbol-to-word ratio (#/ellipsis) <= 0.1 — the heuristic prefilter
    MassiveText applies before dedup. Every signal is a narrow codegen
    expression over the split-word array (``aggregate`` for the length
    sum, ``filter``+``size`` for the ratios, ``array_intersect`` against
    a literal stopword array for the distinct-stopword count) — ZERO
    shuffles except the final presentation sort; at 10^12 docs this is a
    pure scan-side map, the cheapest possible quality pass.
    [ref: Gopher/MassiveText quality rules, public literature; engine
    addition per the graft brief]"""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    n_words = F.size(words)
    len_sum = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    ).cast("double")
    mean_len = F.round(len_sum / n_words, 4)
    alpha_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        / n_words.cast("double"),
        4,
    )
    n_stop = F.size(
        F.array_intersect(
            words, F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
        )
    )
    sym_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[#…]")))
        / n_words.cast("double"),
        4,
    )
    out = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        sym_frac.alias("symbol_frac"),
    )
    passed = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("n_stopwords") >= 2)
        & (F.col("symbol_frac") <= 0.1)
    )
    return out.withColumn("gopher_pass", passed.cast("int")).orderBy("doc_id")


@register(
    "corpus_url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             ('0x' || substr(md5('canon|' || doc_id), 1, 8))::BIGINT AS v
      FROM documents
    ),
    built AS (
      SELECT doc_id,
             (CASE v % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS'
                         ELSE 'https' END)
             || '://'
             || (CASE v % 3 WHEN 0 THEN 'www.site' WHEN 1 THEN 'WWW.SITE'
                            ELSE 'www.Site' END)
             || (v % 20)::VARCHAR
             || (CASE v % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.COM'
                            ELSE '.Com' END)
             || (CASE WHEN v % 4 = 0 THEN ':443' ELSE '' END)
             || '/p/' || (doc_id % 100)::VARCHAR
             || (CASE WHEN v % 5 = 0 THEN '/index.html' ELSE '' END)
             || (CASE v % 3
                   WHEN 1 THEN '?utm_source=feed&id=' || (doc_id % 100)::VARCHAR
                   WHEN 2 THEN '?id=' || (doc_id % 100)::VARCHAR || '&utm_campaign=x'
                   ELSE '' END)
             || (CASE WHEN v % 2 = 1 THEN '#sec' ELSE '' END) AS url
      FROM raw
    ),
    split_url AS (
      SELECT doc_id, url,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+') AS auth,
             substring(url, length(regexp_extract(url, '^[A-Za-z]+://[^/?#]+')) + 1)
               AS rest
      FROM built
    ),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(lower(auth), ':443$', '')
             || regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(rest, '#.*$', ''),
                        'utm_[a-z]+=[^&]*&', ''),
                      '[?&]utm_[a-z]+=[^&]*$', ''),
                    '/index\\.html\\?', '?'),
                  '/index\\.html$', '') AS canon_url
      FROM split_url
    )
    SELECT doc_id, url, canon_url,
           count(*) OVER (PARTITION BY canon_url) AS n_aliases
    FROM canon ORDER BY doc_id
    """,
)
def corpus_url_canonicalize(spark, sf_dir):
    """URL canonicalization — the step every Common-Crawl pipeline runs
    before URL-level dedup: lowercase scheme+authority, strip the default
    :443 port, drop the fragment, remove utm_* tracking params (repairing
    the separator), and strip a trailing /index.html; then count how many
    raw urls collapse onto each canonical form (``n_aliases`` > 1 = the
    URL-dedup candidates). Messy urls are synthesized deterministically
    from doc_id with the identical formula in both dialects (case/port/
    utm/fragment variants driven by a 32-bit hash), since the documents
    table carries no url column. The whole rewrite chain is JVM codegen
    ``regexp_replace`` in the RE2∩Java subset (no lookarounds — the
    /index.html-before-query case is handled by a separate pattern pair
    instead of a lookahead); the only shuffle is the window count on the
    canonical url, which IS the operator's point (aliases meet). At 10^12
    rows: 1 keyed shuffle, well-distributed (canonical urls are near-
    unique; a pathological mega-alias key would be AQE-salted).
    [ref: URL normalization for crawl dedup, public literature; engine
    addition per the graft brief]"""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    v = _h32_spark(did, seed="canon|")
    k3 = v % 3
    scheme = (
        F.when(k3 == 0, "https").when(k3 == 1, "HTTPS").otherwise("https")
    )
    host = F.concat(
        F.when(k3 == 0, "www.site").when(k3 == 1, "WWW.SITE").otherwise("www.Site"),
        (v % 20).cast("string"),
        F.when(k3 == 0, ".com").when(k3 == 1, ".COM").otherwise(".Com"),
    )
    port = F.when(v % 4 == 0, ":443").otherwise("")
    pid = (F.col("doc_id") % 100).cast("string")
    path = F.concat(
        F.lit("/p/"), pid, F.when(v % 5 == 0, "/index.html").otherwise("")
    )
    query = (
        F.when(k3 == 1, F.concat(F.lit("?utm_source=feed&id="), pid))
        .when(k3 == 2, F.concat(F.lit("?id="), pid, F.lit("&utm_campaign=x")))
        .otherwise("")
    )
    frag = F.when(v % 2 == 1, "#sec").otherwise("")
    url = F.concat(scheme, F.lit("://"), host, port, path, query, frag)
    built = d.select("doc_id", url.alias("url"))
    auth = F.regexp_extract(F.col("url"), r"^[A-Za-z]+://[^/?#]+", 0)
    rest = F.expr("substring(url, length(regexp_extract(url, '^[A-Za-z]+://[^/?#]+', 0)) + 1)")
    canon = F.concat(
        F.regexp_replace(F.lower(auth), r":443$", ""),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(rest, r"#.*$", ""),
                        r"utm_[a-z]+=[^&]*&",
                        "",
                    ),
                    r"[?&]utm_[a-z]+=[^&]*$",
                    "",
                ),
                r"/index\.html\?",
                "?",
            ),
            r"/index\.html$",
            "",
        ),
    )
    from pyspark.sql import Window

    return (
        built.withColumn("canon_url", canon)
        .withColumn(
            "n_aliases",
            F.count(F.lit(1)).over(Window.partitionBy("canon_url")),
        )
        .orderBy("doc_id")
    )


@register(
    "crawl_snapshot_diff",
    oracle=f"""
    WITH a AS (
        SELECT {_URL_SQL} AS url, md5(text) AS h
        FROM documents WHERE doc_id % 10 <> 0
    ),
    b AS (
        SELECT {_URL_SQL} AS url,
               CASE WHEN doc_id % 3 = 0 THEN md5(text || '!v2')
                    ELSE md5(text) END AS h
        FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT coalesce(a.url, b.url) AS url,
           CASE WHEN a.h IS NULL THEN 'added'
                WHEN b.h IS NULL THEN 'removed'
                WHEN a.h <> b.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM a FULL OUTER JOIN b ON a.url = b.url
    ORDER BY url
    """,
)
def crawl_snapshot_diff(spark, sf_dir):
    """Snapshot delta between two crawls — the monthly-Common-Crawl
    question 'what was added / removed / changed since the last snapshot':
    FULL OUTER join of the two snapshots' (url, content-hash) projections,
    CASE classification. The two snapshots are derived deterministically
    from the documents table (disjoint doc_id modulus filters; snapshot B
    mutates every third doc's content) with the identical formula in both
    dialects. At 10^12 rows: one url-hash shuffle per side into a
    sort-merge full-outer join — the canonical diff plan; at scale both
    snapshots are url-bucketed lake tables (``bucketBy`` on url, equal
    bucket counts) and the join goes Exchange-free. [engine
    addition]"""
    d = _t(spark, sf_dir, "documents")
    a = d.where(F.col("doc_id") % 10 != 0).select(
        _url_col().alias("url"), F.md5(F.col("text")).alias("h_a")
    )
    b = d.where(F.col("doc_id") % 7 != 0).select(
        _url_col().alias("url"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.md5(F.concat(F.col("text"), F.lit("!v2"))),
        )
        .otherwise(F.md5(F.col("text")))
        .alias("h_b"),
    )
    return (
        a.join(b, "url", "full_outer")
        .select(
            "url",
            F.when(F.col("h_a").isNull(), "added")
            .when(F.col("h_b").isNull(), "removed")
            .when(F.col("h_a") != F.col("h_b"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
        .orderBy("url")
    )


@register(
    "corpus_cdx_surt",
    oracle=f"""
    SELECT array_to_string(list_reverse(string_split(source || '.example.org', '.')), ',')
             || ')/' || lang || '/doc-' || lpad(doc_id::VARCHAR, 8, '0') || '-0'
             AS surt_key,
           {_URL_SQL} AS url
    FROM documents
    ORDER BY surt_key, url
    """,
)
def corpus_cdx_surt(spark, sf_dir):
    """CDX index build: every capture keyed by its SURT (Sort-friendly URI
    Reordering Transform — host components reversed, comma-joined, then
    ')/path') and globally sorted, the exact key web archives use so one
    range scan answers 'all captures under *.example.org'. Pure codegen
    string ops (split/reverse/concat) + ONE range exchange for the global
    sort — at 10^12 rows that is repartitionByRange + per-partition sort,
    the canonical distributed index-build plan (sorted run per output
    file, min/max SURT in the footer = range pruning). [public SURT spec;
    engine addition]"""
    d = _t(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.org"))
    surt = F.concat(
        F.concat_ws(",", F.reverse(F.split(host, "\\."))),
        F.lit(")/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        F.lit("-0"),
    )
    return d.select(surt.alias("surt_key"), _url_col().alias("url")).orderBy(
        "surt_key", "url"
    )


# Messy-URL synthesis shared by corpus_surt_canonical's two dialects: every
# public-spec canonicalization edge case reachable from the documents table
# alone (mixed-case scheme/host, www. prefix, default vs non-default port,
# unsorted query params, fragment). One spelling per dialect, kept adjacent
# so they cannot drift.
_RAW_URL_SQL = """
      (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://'
      || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
      || (CASE WHEN doc_id % 4 = 0 THEN upper(source) || '.Example.ORG'
               ELSE source || '.example.org' END)
      || (CASE WHEN doc_id % 5 = 0
               THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
               WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
      || '/' || lang || '/doc-' || lpad(doc_id::VARCHAR, 8, '0')
      || (CASE doc_id % 4 WHEN 0 THEN '?b=2&a=1'
                          WHEN 1 THEN '?z=9&m=5&a=3'
                          WHEN 2 THEN '' ELSE '?a=1' END)
      || (CASE WHEN doc_id % 7 = 0 THEN '#sec-2' ELSE '' END)
"""


def _raw_url_spark():
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    www = F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    host = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.upper(F.col("source")), F.lit(".Example.ORG")),
    ).otherwise(F.concat(F.col("source"), F.lit(".example.org")))
    port = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .when(F.col("doc_id") % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/"), F.col("lang"), F.lit("/doc-"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
    )
    query = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("?b=2&a=1"))
        .when(F.col("doc_id") % 4 == 1, F.lit("?z=9&m=5&a=3"))
        .when(F.col("doc_id") % 4 == 2, F.lit(""))
        .otherwise(F.lit("?a=1"))
    )
    frag = F.when(F.col("doc_id") % 7 == 0, F.lit("#sec-2")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), www, host, port, path, query, frag)


@register(
    "corpus_surt_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS url_raw FROM documents
    ),
    parts AS (
      SELECT doc_id, url_raw,
             lower(regexp_extract(url_raw, '^([A-Za-z]+)://', 1)) AS scheme,
             regexp_replace(
               lower(regexp_extract(url_raw, '^[A-Za-z]+://([^/:?#]+)', 1)),
               '^www\\.', '') AS host,
             regexp_extract(url_raw, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1) AS port,
             regexp_extract(url_raw, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
             regexp_extract(url_raw, '\\?([^#]*)', 1) AS qs
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url_raw, scheme, host, path,
             CASE WHEN port = '' THEN ''
                  WHEN scheme = 'http' AND port = '80' THEN ''
                  WHEN scheme = 'https' AND port = '443' THEN ''
                  ELSE ':' || port END AS portc,
             CASE WHEN qs = '' THEN ''
                  ELSE '?' || array_to_string(list_sort(string_split(qs, '&')), '&')
             END AS qsc
      FROM parts
    )
    SELECT url_raw,
           scheme || '://' || host || portc || path || qsc AS url_canonical,
           array_to_string(list_reverse(string_split(host, '.')), ',')
             || portc || ')' || path || qsc AS surt_key
    FROM canon ORDER BY surt_key, url_raw
    """,
)
def corpus_surt_canonical(spark, sf_dir):
    """Full public-spec CDX/SURT canonicalization over adversarially messy
    URLs (the `corpus_cdx_surt` extension from the round-4 verdict):
    mixed-case scheme/host → lowercased, leading `www.` stripped, default
    ports dropped (`:80` under http, `:443` under https) while non-default
    ports survive into both the canonical URL and the SURT key, query
    params sorted, fragments dropped. Every step is a codegen string op
    (regexp_extract / array_sort / concat) applied to the RAW string — the
    canonicalizer is the unit under test, not the synthesizer — and the
    DuckDB oracle runs the same spec in its own dialect. At 10^12 rows
    this is the zero-shuffle normalize stage in front of every
    url-keyed join/dedup in the engine. [public SURT/CDX canonicalization
    spec; engine addition]"""
    d = _t(spark, sf_dir, "documents")
    raw = d.select("doc_id", _raw_url_spark().alias("url_raw"))
    scheme = F.lower(F.regexp_extract("url_raw", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url_raw", r"^[A-Za-z]+://([^/:?#]+)", 1)),
        r"^www\.", "",
    )
    port = F.regexp_extract("url_raw", r"^[A-Za-z]+://[^/:?#]+:([0-9]+)", 1)
    path = F.regexp_extract("url_raw", r"^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1)
    qs = F.regexp_extract("url_raw", r"\?([^#]*)", 1)
    portc = (
        F.when(port == "", F.lit(""))
        .when((scheme == "http") & (port == "80"), F.lit(""))
        .when((scheme == "https") & (port == "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    qsc = F.when(qs == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), F.concat_ws("&", F.array_sort(F.split(qs, "&"))))
    )
    parts = raw.select(
        "url_raw",
        scheme.alias("scheme"), host.alias("host"), portc.alias("portc"),
        path.alias("path"), qsc.alias("qsc"),
    )
    return parts.select(
        "url_raw",
        F.concat(
            F.col("scheme"), F.lit("://"), F.col("host"), F.col("portc"),
            F.col("path"), F.col("qsc"),
        ).alias("url_canonical"),
        F.concat(
            F.concat_ws(",", F.reverse(F.split(F.col("host"), r"\."))),
            F.col("portc"), F.lit(")"), F.col("path"), F.col("qsc"),
        ).alias("surt_key"),
    ).orderBy("surt_key", "url_raw")


# robots.txt rule table shared by corpus_robots_rules' two dialects: three
# deterministic per-domain-group profiles exercising the spec's decision
# cases — longest-match override, root disallow with a subtree allow,
# equal-length allow/disallow tie (allow wins), and no-match default-allow.
_ROBOTS_RULES = [
    # (source_group, path_prefix, allow)
    (0, "/de/", 0),
    (0, "/de/doc-0000001", 1),   # longest match re-allows doc_ids 10-19
    (1, "/", 0),                 # root disallow ...
    (1, "/fr/", 1),              # ... with a subtree allow override
    (2, "/en/doc-00000", 0),     # equal-length tie:
    (2, "/en/doc-00000", 1),     #   allow wins per the public spec
    (2, "/zh/", 0),
]


@register(
    "corpus_robots_rules",
    oracle=f"""
    WITH rules(sgrp, prefix, allow) AS (VALUES
      { ", ".join(f"({g}, '{p}', {a})" for g, p, a in _ROBOTS_RULES) }
    ),
    docs AS (
      SELECT {_URL_SQL} AS url,
             substr(source, 4)::INT % 3 AS sgrp,
             '/' || lang || '/doc-' || lpad(doc_id::VARCHAR, 8, '0') AS path
      FROM documents
    ),
    matched AS (
      SELECT d.url, max(length(r.prefix) * 2 + r.allow) AS score
      FROM docs d JOIN rules r
        ON d.sgrp = r.sgrp AND starts_with(d.path, r.prefix)
      GROUP BY d.url
    )
    SELECT d.url,
           coalesce(m.score % 2, 1) AS allowed,
           coalesce(m.score // 2, 0) AS rule_len
    FROM docs d LEFT JOIN matched m ON d.url = m.url
    ORDER BY d.url
    """,
)
def corpus_robots_rules(spark, sf_dir):
    """robots.txt compliance evaluation — the gate every polite crawl /
    training-data pipeline runs before a URL is fetched or kept: per-domain
    rule sets evaluated with the public spec's LONGEST-MATCH precedence
    (most-specific rule wins; at equal length Allow beats Disallow).

    The decision is pure arithmetic on a broadcast rule table: score =
    prefix_len * 2 + allow, matched via a broadcast prefix join, max per
    url — the winning rule's verdict is score % 2 and its length score //
    2, so the whole evaluation is one broadcast join + one map-side-
    combined aggregation, no window, no UDF. Unmatched urls default to
    allowed (the spec's empty-ruleset behavior). At 10^12 urls the rule
    table (per-domain robots.txt, ~KBs) broadcasts; the scan stays
    zero-shuffle up to the per-url agg. [public robots.txt spec (REP,
    RFC 9309); engine addition]"""
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        _url_col().alias("url"),
        (F.substring("source", 4, 10).cast("int") % 3).alias("sgrp"),
        F.concat(
            F.lit("/"), F.col("lang"), F.lit("/doc-"),
            F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        ).alias("path"),
    )
    rules = _local_table(
        spark, _ROBOTS_RULES, "sgrp int, prefix string, allow int"
    )
    # Round-6: single-pass evaluation — a LEFT broadcast join keeps
    # unmatched urls in the stream (null score → spec default-allow), so
    # the per-url max-score agg IS the result and the former
    # matched-back-onto-docs merge join (second scan + url-keyed shuffle)
    # disappears. Urls are unique per doc row, so one row per url == one
    # row per doc, exactly the old outer-join output.
    return (
        docs.join(
            F.broadcast(rules),
            (docs["sgrp"] == rules["sgrp"])
            & docs["path"].startswith(rules["prefix"]),
            "left",
        )
        .groupBy("url")
        .agg(F.max(F.length("prefix") * 2 + F.col("allow")).alias("score"))
        .select(
            "url",
            F.coalesce(F.col("score") % 2, F.lit(1)).alias("allowed"),
            F.coalesce((F.col("score") / 2).cast("long"), F.lit(0)).alias("rule_len"),
        )
        .orderBy("url")
    )


@register(
    "corpus_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('strat|' || doc_id::VARCHAR)
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 100
    ORDER BY doc_id
    """,
)
def corpus_stratified_sample(spark, sf_dir):
    """Exact per-stratum quota sampling — the data-mixture primitive of a
    training corpus (exactly k docs per language, deterministic across
    runs / engines / cluster sizes): the k hash-smallest docs of each lang.

    The naive plan — row_number() OVER (PARTITION BY lang) — puts each
    language in ONE window task, so a web corpus (5-ish giant language
    groups over 10^12 rows) becomes five world-sized single-task sorts.
    :func:`~docling_ibm_models_spark.operators.stratified.
    stratified_hash_topk` is the scale path: bucket rows by hash prefix,
    classify whole buckets by arithmetic over a tiny (lang x 4096)
    count frame, and sort ONLY the single boundary bucket per group
    (~group_size/4096 rows, window partitioned by (lang, bucket)). The
    oracle is the semantically-equal naive window, fine at sf test sizes.
    [engine addition: no reference counterpart — data-mixture balancing
    per Gopher/The Pile mixture construction]"""
    from docling_ibm_models_spark.operators.stratified import (
        stratified_hash_topk,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return stratified_hash_topk(
        d, "lang", "doc_id", k=100, seed="strat|"
    ).orderBy("doc_id")


def _bpe_pair_counts(wf: DataFrame) -> DataFrame:
    """Corpus-wide adjacent-symbol-pair counts over a (syms, f) word-
    frequency frame — the BPE statistic, weighted by word frequency."""
    pairs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("l"),
                F.element_at("syms", i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        wf.select(F.explode(pairs).alias("p"), "f")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("f").alias("cnt"))
    )


def _bpe_apply_merge(wf: DataFrame, best: DataFrame) -> DataFrame:
    """Greedy left-to-right merge of the winning pair into every word's
    symbol sequence: one fold (``F.aggregate``) per word, entirely inside
    codegen — if the accumulator's last symbol is ``bl`` and the incoming
    one is ``br``, fuse them (the fused token can never re-fuse with the
    next ``br``, which IS the non-overlapping greedy scan)."""
    j = wf.crossJoin(F.broadcast(best))
    merged = F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("bl"))
            & (s == F.col("br")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.col("bl"), F.col("br"))),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return j.select(merged.alias("syms"), "f")


# The oracle applies one greedy merge to the space-delimited symbol string
# with TWO literal replace passes: a replace consumes the separator space
# shared with an immediately following disjoint occurrence ('x a b a b x'
# merges only the first pair in one pass), and such missed occurrences are
# never adjacent — so a second pass catches exactly the stragglers.
_BPE_SQL_COMMON = """
    words AS (
      SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents
    ),
    wf AS (SELECT w, count(*) AS f FROM words WHERE w <> '' GROUP BY w),
    s0 AS (
      SELECT ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' '
               AS ds, f
      FROM wf
    ),
    c0 AS (
      SELECT cs[i] AS l, cs[i+1] AS r, sum(f)::BIGINT AS cnt
      FROM (SELECT string_split(trim(ds), ' ') AS cs, f FROM s0),
           unnest(range(1, len(cs))) u(i)
      GROUP BY 1, 2
    ),
    b1 AS (SELECT l, r FROM c0 ORDER BY cnt DESC, l, r LIMIT 1),
    s1 AS (
      SELECT replace(replace(ds,
               ' ' || (SELECT l FROM b1) || ' ' || (SELECT r FROM b1) || ' ',
               ' ' || (SELECT l FROM b1) || (SELECT r FROM b1) || ' '),
               ' ' || (SELECT l FROM b1) || ' ' || (SELECT r FROM b1) || ' ',
               ' ' || (SELECT l FROM b1) || (SELECT r FROM b1) || ' ')
               AS ds, f
      FROM s0
    ),
    c1 AS (
      SELECT cs[i] AS l, cs[i+1] AS r, sum(f)::BIGINT AS cnt
      FROM (SELECT string_split(trim(ds), ' ') AS cs, f FROM s1),
           unnest(range(1, len(cs))) u(i)
      GROUP BY 1, 2
    ),
    b2 AS (SELECT l, r FROM c1 ORDER BY cnt DESC, l, r LIMIT 1),
    s2 AS (
      SELECT replace(replace(ds,
               ' ' || (SELECT l FROM b2) || ' ' || (SELECT r FROM b2) || ' ',
               ' ' || (SELECT l FROM b2) || (SELECT r FROM b2) || ' '),
               ' ' || (SELECT l FROM b2) || ' ' || (SELECT r FROM b2) || ' ',
               ' ' || (SELECT l FROM b2) || (SELECT r FROM b2) || ' ')
               AS ds, f
      FROM s1
    ),
    c2 AS (
      SELECT cs[i] AS l, cs[i+1] AS r, sum(f)::BIGINT AS cnt
      FROM (SELECT string_split(trim(ds), ' ') AS cs, f FROM s2),
           unnest(range(1, len(cs))) u(i)
      GROUP BY 1, 2
    )
"""


@register(
    "corpus_bpe_merges",
    oracle=f"""
    WITH {_BPE_SQL_COMMON}
    SELECT * FROM (
      (SELECT 0 AS it, l, r, cnt FROM c0 ORDER BY cnt DESC, l, r LIMIT 10)
      UNION ALL
      (SELECT 1 AS it, l, r, cnt FROM c1 ORDER BY cnt DESC, l, r LIMIT 10)
      UNION ALL
      (SELECT 2 AS it, l, r, cnt FROM c2 ORDER BY cnt DESC, l, r LIMIT 10)
    ) ORDER BY it, cnt DESC, l, r
    """,
)
def corpus_bpe_merges(spark, sf_dir):
    """Distributed byte-pair-encoding tokenizer training, two merge
    iterations (Sennrich et al. 2016): corpus-wide adjacent-symbol pair
    counts over the word-frequency table, greedy left-to-right merge of
    the argmax pair applied to every word, recount, repeat. Emits the
    top-10 pairs at iteration 0 / 1 / 2 (each iteration's rank-1 row is
    the merge that produced the next).

    The 100-TB shape is the classic BPE compression: the corpus collapses
    to a (word, freq) table ONCE (one scan + one groupBy, materialized
    distributed via ``_materialize_scan`` so the three counting rounds
    re-read a tiny parquet, not the corpus); every later stage — pair
    explode, count, argmax, merge fold — runs over that bounded frame.
    The merge itself is an ``F.aggregate`` fold per word against the
    broadcast 1-row winner (the fused token can't re-fuse, which IS
    greedy non-overlap), so no Python touches any row. Symbol split /
    pair enumeration are higher-order codegen expressions.
    [engine addition: tokenizer-training primitive; reference processes
    single documents and has no corpus-level ops]"""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    wf = _materialize_scan(
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(chars.alias("syms"), "f"),
        spark,
    )

    def top1(cnts):
        return (
            cnts.orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .select(F.col("l").alias("bl"), F.col("r").alias("br"))
        )

    c0 = _bpe_pair_counts(wf)
    wf1 = _bpe_apply_merge(wf, top1(c0))
    c1 = _bpe_pair_counts(wf1)
    wf2 = _bpe_apply_merge(wf1, top1(c1))
    c2 = _bpe_pair_counts(wf2)

    def top10(cnts, it):
        return (
            cnts.orderBy(F.col("cnt").desc(), "l", "r")
            .limit(10)
            .select(F.lit(it).alias("it"), "l", "r", "cnt")
        )

    return (
        top10(c0, 0)
        .unionByName(top10(c1, 1))
        .unionByName(top10(c2, 2))
        .orderBy("it", F.col("cnt").desc(), "l", "r")
    )


@register(
    "corpus_mixture_weights",
    oracle="""
    WITH per AS (
      SELECT lang,
             count(*)::BIGINT AS n_docs,
             sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '')))::BIGINT AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT sum(n_docs) AS td, sum(pow(n_docs, 0.3)) AS tw FROM per
    )
    SELECT lang, n_docs, n_tokens,
           round(n_docs / td, 6) AS share,
           round(pow(n_docs, 0.3) / tw, 6) AS weight_a03,
           round(1000000 * (pow(n_docs, 0.3) / tw) / n_tokens, 4)
             AS epochs_1m
    FROM per, tot
    ORDER BY lang
    """,
)
def corpus_mixture_weights(spark, sf_dir):
    """Training-mixture construction math (XLM-R / Gopher): per-language
    corpus stats plus temperature-scaled sampling weights
    ``w_l = n_l^alpha / sum(n^alpha)`` at alpha = 0.3 — the standard
    upsampling of low-resource strata — and the implied epochs each
    stratum would be cycled to fill a 1M-token budget (epochs > 1 means
    the stratum repeats; the overfitting signal mixture designers check).
    One map-side-combined aggregation to a |langs|-row frame; the
    normalizing totals come back via a broadcast 1-row cross join, so the
    corpus is scanned exactly once at any scale. [engine addition: data
    mixture primitive, pairs with corpus_stratified_sample]"""
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("td"),
        F.sum(F.pow("n_docs", F.lit(0.3))).alias("tw"),
    )
    w = F.pow("n_docs", F.lit(0.3)) / F.col("tw")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("td"), 6).alias("share"),
            F.round(w, 6).alias("weight_a03"),
            F.round(F.lit(1000000) * w / F.col("n_tokens"), 4).alias(
                "epochs_1m"
            ),
        )
        .orderBy("lang")
    )


@register(
    "corpus_source_overlap",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ex AS (
      SELECT DISTINCT d.source AS src, u.s
      FROM sh JOIN documents d USING (doc_id),
           unnest(sh.shingles) AS u(s)
    ),
    sizes AS (SELECT src, count(*) AS n FROM ex GROUP BY src),
    inter AS (
      SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS n_common
      FROM ex a JOIN ex b ON a.s = b.s AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_common,
           round(n_common::DOUBLE / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.src = src_a
    JOIN sizes sb ON sb.src = src_b
    ORDER BY src_a, src_b
    """,
)
def corpus_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix (the Dolma/decontamination
    REPORT, where ``corpus_decontaminate`` is the surgical anti-join):
    3-gram shingle Jaccard between every pair of SOURCES — how much of
    crawl A's phrase inventory re-appears in crawl B, the number a
    curation team reads before deciding which source to dedup against
    which. Distinct (source, shingle) first, so the shingle self-join's
    blow-up is bounded by Sigma df^2 <= n_sources^2 per shingle —
    independent of document count, the property that keeps this runnable
    at 10^12 docs where the doc-level pair matrix is not. One shuffle on
    the shingle, one tiny per-source-pair rollup. [engine addition]"""
    docs = _t(spark, sf_dir, "documents")
    # Round-6: the distinct (src, shingle) frame is materialized once —
    # the lazy plan re-ran the shingling UDF + doc join + distinct for the
    # size rollup AND both self-join sides (before-plan: 16 ArrowEvalPython
    # nodes / 16 scans for one logical shingling). n_sources × shingles is
    # tiny relative to the corpus at any scale, so the temp-parquet write
    # is the right trade everywhere.
    docs = _spread(docs)
    ex = _materialize_scan(
        _shingles_spark(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(F.col("source").alias("src"), F.explode("shingles").alias("s"))
        .distinct(),
        spark,
    )
    sizes = ex.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("src").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("src").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# Shared whitespace tokenization for the round-5 corpus queries (bm25 /
# bpe_encode / dsir / phrase_search): lowercase, split on \s+, drop empty
# strings. Tokenization identity between a Spark query and its oracle is
# load-bearing for the driver hash — keep BOTH dialects pinned here, never
# inline a variant in one side only. (The older lang_id/token_count family
# keeps its separate trim()+split spelling with matching oracles.)
# Dialect caveat (ADVICE r5): Java regex \s matches U+000B vertical tab,
# DuckDB's RE2 \s does not — the two spellings agree only while the corpus
# contains no \x0B (or other exotic) whitespace. The oracle text is frozen,
# so the invariant is ASSERTED instead of respelled:
# tests/test_oracle_queries.py::test_corpus_whitespace_invariant fails if
# any document ever carries whitespace outside [ \t\n\r\f].
_WS_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
)


def _ws_toks_spark():
    return F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")


_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "corpus_bm25_topk",
    oracle=f"""
    WITH dls AS (
      SELECT doc_id,
             len({_WS_TOKS_SQL})::BIGINT AS dl
      FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dls),
    hits AS (
      SELECT doc_id, u.term, count(*)::BIGINT AS tf
      FROM documents,
           unnest({_WS_TOKS_SQL}) AS u(term)
      WHERE u.term IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}',
                       '{_BM25_TERMS[2]}')
      GROUP BY 1, 2
    ),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id,
             count(*)::BIGINT AS n_hit_terms,
             max(d.dl) AS dl,
             sum(ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                 * h.tf * ({_BM25_K1} + 1)
                 / (h.tf + {_BM25_K1}
                    * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))) AS s
      FROM hits h
      JOIN dfs f USING (term)
      JOIN dls d USING (doc_id), stats s
      GROUP BY h.doc_id
    )
    SELECT doc_id, n_hit_terms, dl, round(s, 6) AS score_bm25
    FROM scored
    ORDER BY round(s, 6) DESC, doc_id
    LIMIT 20
    """,
)
def corpus_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (Robertson/Lucene idf variant) — top-20
    documents for a fixed 3-term query over the corpus, the relevance
    scorer behind quality-targeted data selection (e.g. retrieving
    in-domain training documents against a task seed query, DSIR-style).

    100-TB shape: the doc length rides THROUGH the explode, so the
    per-doc-per-term tf frame already carries ``dl`` and no O(N-docs)
    length join ever happens; the hits scan FILTERS to the query's
    terms before its shuffle, so the shuffled frame is
    O(matching docs x |q|), not O(tokens), and that tiny tf frame is
    materialized (``_materialize_scan``) so the df table (|q| rows) is
    derived from it instead of rescanning the corpus — two corpus
    scans total (hits + the length/avgdl scalar). df and (N, avgdl)
    come back as broadcasts, so scoring is a codegen expression; the
    global top-20 is Spark's TakeOrderedAndProject (per-partition heap
    + single merge), never a full sort. Score rounded to 6 places on both sides so the engines'
    ln/fp ULP drift cannot flip the hash. [engine addition:
    ranked-retrieval primitive; reference has no corpus-level ops]"""
    docs = _t(spark, sf_dir, "documents")
    toks = _ws_toks_spark()
    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = _materialize_scan(
        docs.select(
            "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
        )
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        spark,
    )
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = (
        F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        hits.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.max("dl").alias("dl"),
            F.sum(idf * tfn).alias("s"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_hit_terms",
            "dl",
            F.round("s", 6).alias("score_bm25"),
        )
        .orderBy(F.col("score_bm25").desc(), "doc_id")
        .limit(20)
    )


# Fixed merge vocabulary for the ENCODE side of BPE (priority order, as a
# trained tokenizer ships it).  The chain s→sp→spa→spar→spark and
# j+o / i+n / jo+in→join exercise cascaded priorities: later rules fuse
# symbols earlier rules created.
_BPE_ENCODE_MERGES = [
    ("s", "p"), ("sp", "a"), ("spa", "r"), ("spar", "k"),
    ("j", "o"), ("i", "n"), ("jo", "in"), ("t", "a"),
]
# The two-pass-replace oracle and the greedy fold agree only when no rule
# fuses a symbol with ITSELF: for bl == br on an odd-length run the
# string replace segments right-to-left-ish ([aaa][aa]) while the greedy
# fold is strictly left-to-right ([aa][aa]a → different once later rules
# consume those symbols). Guard the invariant at import time so extending
# the merge table can't silently desynchronize query and oracle.
if any(bl == br for bl, br in _BPE_ENCODE_MERGES):  # survives python -O
    raise ValueError(
        "bl == br merge rules break the two-pass-replace oracle equivalence"
    )


def _bpe_fuse(col, bl: str, br: str):
    """Greedy left-to-right non-overlapping fuse of the (bl, br) symbol
    pair over a symbol-array column — one codegen ``F.aggregate`` fold
    (the fused token can never re-fuse with the next ``br``, which IS
    the greedy scan). Module-level so the randomized property test can
    drive it with arbitrary rule tables."""
    return F.aggregate(
        col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(bl))
            & (s == F.lit(br)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(bl + br)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_fold_py(syms: list, rules: list) -> list:
    """Python twin of chaining ``_bpe_fuse`` over ``rules`` in priority
    order — the Arrow-batched encode kernel's core (round 6). Greedy
    left-to-right non-overlapping fuse per rule; equivalence against the
    Catalyst fold is property-tested on randomized rule tables
    (tests/test_bpe_merges.py)."""
    for bl, br in rules:
        fused = bl + br
        acc: list = []
        for s in syms:
            if acc and acc[-1] == bl and s == br:
                acc[-1] = fused
            else:
                acc.append(s)
        syms = acc
    return syms


def _bpe_encode_oracle() -> str:
    # One CTE per merge rule; each applies the training oracle's two-pass
    # greedy replace (a replace consumes the separator space shared with
    # an immediately following disjoint occurrence; misses are never
    # adjacent, so the second pass is exact).
    steps, prev = [], "e0"
    for i, (l, r) in enumerate(_BPE_ENCODE_MERGES, 1):
        pat, rep = f"' {l} {r} '", f"' {l}{r} '"
        steps.append(
            f"e{i} AS (SELECT w, replace(replace(ds, {pat}, {rep}),"
            f" {pat}, {rep}) AS ds FROM {prev})"
        )
        prev = f"e{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH dw AS (
      SELECT doc_id, u.w, count(*)::BIGINT AS c
      FROM documents,
           unnest({_WS_TOKS_SQL}) AS u(w)
      GROUP BY 1, 2
    ),
    e0 AS (
      SELECT DISTINCT w,
             ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' '
               AS ds
      FROM dw
    ),
    {chain},
    enc AS (
      SELECT w, len(string_split(trim(ds), ' '))::BIGINT AS enc_len
      FROM {prev}
    )
    SELECT doc_id,
           sum(c)::BIGINT AS n_words,
           sum(c * len(w))::BIGINT AS n_chars_tok,
           sum(c * enc_len)::BIGINT AS n_tokens_bpe
    FROM dw JOIN enc USING (w)
    GROUP BY doc_id
    ORDER BY doc_id
    """


@register("corpus_bpe_encode", oracle=_bpe_encode_oracle())
def corpus_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLICATION — encode every document with a shipped
    merge vocabulary (the counterpart of ``corpus_bpe_merges``' training):
    per document, the word count, pre-merge character-symbol count, and
    post-merge BPE token count — the token-budget numbers a training-data
    pipeline computes when it tokenizes a corpus for packing.

    100-TB shape: the corpus is scanned ONCE — it collapses to a
    materialized (doc_id, word, count) frame (``_materialize_scan``),
    from which both the distinct-word vocabulary (Heaps-law bounded:
    ~millions of types for 10^12 tokens, a few hundred MB encoded) and
    the per-doc totals re-read a tiny columnar scan instead of the
    corpus. Encoding is done ONCE PER DISTINCT WORD, never per
    occurrence: each merge rule is a codegen ``F.aggregate`` fold over
    the word's symbol array (the fused token can't re-fuse with the
    next symbol, which IS greedy left-to-right non-overlap), and
    per-doc totals come from re-joining the encoded lengths back on the
    word (broadcast here; a shuffled hash join past broadcast size,
    still O(vocab) not O(tokens)). Rules apply in priority order; a
    single ordered pass is exact because merging only CREATES symbols,
    so a later rule can never manufacture an adjacency an earlier
    rule's pattern needed. [engine addition:
    tokenizer-application primitive]

    Round-6: the 30-rule fold chain ran as 30 nested INTERPRETED
    ``aggregate`` expressions per distinct word (higher-order functions
    are not codegen'd — and the nested expression tree alone was a
    planning cost). The encode now runs as one Arrow-batched kernel
    applying the identical greedy fold per rule in priority order
    (semantics pinned by the randomized fold-equivalence property test in
    tests/test_bpe_merges.py against the Catalyst ``_bpe_fuse``); only the
    per-word encoded LENGTH crosses back. Same rows, oracle unchanged."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            _ws_toks_spark()
        ).alias("w"),
    )
    dw = _materialize_scan(
        words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")),
        spark,
    )

    def _enc_len_py(ws):
        import pandas as pd

        rules = list(_BPE_ENCODE_MERGES)
        return pd.Series([len(_bpe_fold_py(list(w), rules)) for w in ws])

    u = F.pandas_udf(_enc_len_py, "int").asNondeterministic()
    enc_len = dw.select("w").distinct().select("w", u("w").alias("enc_len"))
    return (
        dw.join(F.broadcast(enc_len), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.length("w")).alias("n_chars_tok"),
            F.sum(F.col("c") * F.col("enc_len")).alias("n_tokens_bpe"),
        )
        .orderBy("doc_id")
    )


_DSIR_BUCKETS = 4096
_DSIR_TARGET = "src0"


@register(
    "corpus_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             {_h32_sql("u.w", "dsir|")} % {_DSIR_BUCKETS} AS b
      FROM documents,
           unnest({_WS_TOKS_SQL}) AS u(w)
    ),
    db AS (
      SELECT doc_id, source, b, count(*)::BIGINT AS c
      FROM toks GROUP BY 1, 2, 3
    ),
    stats AS (
      SELECT b,
             sum(CASE WHEN source = '{_DSIR_TARGET}' THEN c ELSE 0 END)
               ::BIGINT AS ct,
             sum(CASE WHEN source <> '{_DSIR_TARGET}' THEN c ELSE 0 END)
               ::BIGINT AS cr
      FROM db GROUP BY b
    ),
    tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM stats),
    lr AS (
      SELECT b, ln((ct + 1) / (nt + {_DSIR_BUCKETS}))
                - ln((cr + 1) / (nr + {_DSIR_BUCKETS})) AS lw
      FROM stats, tot
    )
    SELECT db.doc_id,
           sum(db.c)::BIGINT AS n_tokens,
           round(sum(db.c * lr.lw), 6) AS log_importance
    FROM db JOIN lr USING (b)
    GROUP BY db.doc_id
    ORDER BY db.doc_id
    """,
)
def corpus_dsir_importance(spark, sf_dir):
    """DSIR data-selection importance weights (Xie et al. 2023): score
    every document by how target-like it is — the log-ratio of two
    hashed-unigram language models, target = the 'src0' source,
    raw = everything else, features hash-tricked into 4096 buckets
    (DSIR's own move: the LM state is a FIXED 4096-float vector however
    big the corpus vocabulary grows), add-1 smoothing over the bucket
    space, per-doc weight = sum over tokens of ln p_target(b) -
    ln p_raw(b). The resampling step is then a weighted variant of
    ``corpus_hash_sample`` / ``corpus_stratified_sample``.

    100-TB shape: ONE corpus scan collapses to a materialized
    (doc_id, source, bucket, count) frame; both bucket LMs come from a
    single conditional aggregation over it (no second pass, no join
    between target and raw), their totals from a 1-row broadcast, and
    the per-doc score re-joins the 4096-row broadcast weight table —
    so the only O(corpus) shuffle is the (doc, bucket) rollup. All
    codegen; the md5-based bucket hash is the repo's cross-dialect
    ``_h32``. [engine addition: data-selection primitive; pairs with
    corpus_perplexity_filter (KenLM shape) and corpus_gopher_rules]"""
    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            _ws_toks_spark()
        ).alias("w"),
    ).select(
        "doc_id",
        "source",
        (_h32_spark(F.col("w"), "dsir|") % _DSIR_BUCKETS).alias("b"),
    )
    db = _materialize_scan(
        toks.groupBy("doc_id", "source", "b").agg(
            F.count(F.lit(1)).alias("c")
        ),
        spark,
    )
    is_t = F.col("source") == _DSIR_TARGET
    # materialize the <=4096-row bucket rollup so `tot` re-reads IT rather
    # than re-running the corpus-scale (doc, bucket) aggregation (the one
    # genuinely single conditional pass over db)
    stats = _materialize_scan(
        db.groupBy("b").agg(
            F.sum(F.when(is_t, F.col("c")).otherwise(F.lit(0))).alias("ct"),
            F.sum(F.when(~is_t, F.col("c")).otherwise(F.lit(0))).alias("cr"),
        ),
        spark,
    )
    tot = stats.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    lw = F.log((F.col("ct") + 1) / (F.col("nt") + _DSIR_BUCKETS)) - F.log(
        (F.col("cr") + 1) / (F.col("nr") + _DSIR_BUCKETS)
    )
    lr = stats.crossJoin(F.broadcast(tot)).select("b", lw.alias("lw"))
    return (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(F.sum(F.col("c") * F.col("lw")), 6).alias(
                "log_importance"
            ),
        )
        .orderBy("doc_id")
    )


_PHRASES = ("slow hash batch", "window fast query", "part filter scan")


def _phrase_oracle() -> str:
    vals = ", ".join(
        f"('{p}', '{p.split()[0]}', '{p.split()[1]}', '{p.split()[2]}')"
        for p in _PHRASES
    )
    vocab = ", ".join(
        f"'{w}'" for w in sorted({w for p in _PHRASES for w in p.split()})
    )
    return f"""
    WITH ph(phrase, p1, p2, p3) AS (VALUES {vals}),
    toks AS (
      SELECT doc_id, i AS pos, cs[i] AS w
      FROM (
        SELECT doc_id,
               {_WS_TOKS_SQL} AS cs
        FROM documents
      ), unnest(range(1, len(cs) + 1)) u(i)
      WHERE cs[i] IN ({vocab})
    )
    SELECT ph.phrase, t1.doc_id AS doc_id,
           count(*)::BIGINT AS n_occurrences,
           min(t1.pos)::BIGINT AS first_pos
    FROM ph
    JOIN toks t1 ON t1.w = ph.p1
    JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
                AND t2.w = ph.p2
    JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
                AND t3.w = ph.p3
    GROUP BY ph.phrase, t1.doc_id
    ORDER BY phrase, t1.doc_id
    """


@register("corpus_phrase_search", oracle=_phrase_oracle())
def corpus_phrase_search(spark, sf_dir):
    """Exact-phrase search by positional posting-list intersection — the
    inverted-index primitive under every web search engine (and the
    exact-match complement of ``corpus_bm25_topk``'s ranked retrieval):
    for each query phrase, the documents containing it verbatim, with
    occurrence count and first (1-based) token position. Overlapping
    occurrences count individually, which substring/regex counting
    cannot express — hence the position-chain oracle.

    100-TB shape: ONE corpus scan posexplodes to (doc, pos, token) and
    FILTERS to the phrases' vocabulary before anything shuffles — the
    materialized posting frame is O(df of query words), not O(tokens),
    exactly an inverted index's posting lists for the query terms. The
    3-token chain is two hash self-joins on (doc_id, pos ± k) equality
    keys (never a range or nested-loop), the tiny phrase table is a
    broadcast, and the per-(phrase, doc) rollup is the only
    O(matches) aggregation. [engine addition: search primitive]"""
    docs = _t(spark, sf_dir, "documents")
    vocab = sorted({w for p in _PHRASES for w in p.split()})
    ph = _local_table(
        spark,
        [(p, *p.split()) for p in _PHRASES],
        "phrase string, p1 string, p2 string, p3 string",
    )
    toks = _materialize_scan(
        docs.select(
            "doc_id",
            F.posexplode(
                _ws_toks_spark()
            ).alias("pos", "w"),
        ).filter(F.col("w").isin(vocab)),
        spark,
    )
    t1 = toks.join(
        F.broadcast(ph), F.col("w") == F.col("p1")
    ).select("phrase", "doc_id", "pos", "p2", "p3")
    t2 = toks.select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2"),
        F.col("w").alias("w2"),
    )
    t3 = toks.select(
        F.col("doc_id").alias("d3"), F.col("pos").alias("pos3"),
        F.col("w").alias("w3"),
    )
    m = (
        t1.join(
            t2,
            (F.col("d2") == F.col("doc_id"))
            & (F.col("pos2") == F.col("pos") + 1)
            & (F.col("w2") == F.col("p2")),
        )
        .join(
            t3,
            (F.col("d3") == F.col("doc_id"))
            & (F.col("pos3") == F.col("pos") + 2)
            & (F.col("w3") == F.col("p3")),
        )
    )
    return (
        m.groupBy("phrase", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            (F.min("pos") + 1).alias("first_pos"),
        )
        .orderBy("phrase", "doc_id")
    )

