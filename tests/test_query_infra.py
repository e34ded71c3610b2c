"""Round-6 driver-overhead internals: the _t scan memo and the _spread
partition-probe memo/probe path.

These are pure driver-side plan-construction optimizations — they must
never change what a query computes, only how often the same immutable
scan is re-planned. The invariants worth pinning:

* _t returns the SAME lazy scan object for repeated (session, sf_dir,
  table) resolutions, and a DIFFERENT one per sf_dir (scale factors must
  never mix) and per session (a replaced session must never serve a plan
  bound to a stopped one).
* the memo caches a PLAN, not data: re-executing a memoized scan reflects
  whatever the parquet contains at action time for freshly visible rows
  of the same file set (i.e. results are computed per action).
* _spread(df, probe=base) with a narrow derivation of `base` produces a
  plan with the same partitioning decision as _spread(df) itself —
  narrow filter/project transforms preserve partition count 1:1, which
  is the invariant the probe shortcut relies on.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from docling_ibm_models_spark.plans import queries as Q

from .conftest import SF_MED, SF_SMALL


def test_t_memo_same_session_same_object(spark):
    a = Q._t(spark, SF_SMALL, "documents")
    b = Q._t(spark, SF_SMALL, "documents")
    assert a is b


def test_t_memo_keyed_by_sf_dir(spark):
    a = Q._t(spark, SF_SMALL, "documents")
    b = Q._t(spark, SF_MED, "documents")
    assert a is not b
    # and the two frames really scan different files
    assert set(a.inputFiles()) != set(b.inputFiles())


def test_t_memo_is_lazy_plan_not_result(spark):
    # execute twice; identical results each time — every action rescans
    a = Q._t(spark, SF_SMALL, "documents")
    r1 = a.agg(F.count(F.lit(1))).collect()[0][0]
    r2 = Q._t(spark, SF_SMALL, "documents").agg(F.count(F.lit(1))).collect()[0][0]
    assert r1 == r2 > 0


def test_t_memo_invalidated_for_new_session(spark):
    # simulate a replaced session: poison the memo entry with a sentinel
    # "session" and check _t rebuilds rather than serving the stale frame
    key = (SF_SMALL, "documents")
    fresh = Q._t(spark, SF_SMALL, "documents")
    stale_owner = object()
    Q._T_CACHE[key] = (stale_owner, fresh)
    rebuilt = Q._t(spark, SF_SMALL, "documents")
    assert Q._T_CACHE[key][0] is spark
    assert rebuilt.count() == fresh.count()


def test_invalidate_drops_only_that_sf_dir(spark):
    small = Q._t(spark, SF_SMALL, "documents")
    med = Q._t(spark, SF_MED, "documents")
    Q.invalidate(SF_SMALL)
    assert (SF_SMALL, "documents") not in Q._T_CACHE
    assert Q._T_CACHE[(SF_MED, "documents")][1] is med
    assert Q._t(spark, SF_SMALL, "documents") is not small


def test_spread_probe_matches_direct_decision(spark):
    base = Q._t(spark, SF_MED, "lineitem")
    derived = base.where(F.col("l_linenumber") <= 3).select(
        "l_orderkey", "l_linenumber"
    )
    direct = Q._spread(derived, "l_orderkey")
    probed = Q._spread(derived, "l_orderkey", probe=base)
    # same partitioning decision either way (both repartition, or neither)
    assert (
        direct.rdd.getNumPartitions() == probed.rdd.getNumPartitions()
    )
    # and the probe memoized the count on the base scan for reuse
    assert getattr(base, "_dims_scan_parts", None) is not None


def test_spread_memoizes_partition_probe(spark):
    df = Q._t(spark, SF_MED, "documents")
    Q._spread(df)
    n = getattr(df, "_dims_scan_parts", None)
    assert isinstance(n, int) and n >= 1
