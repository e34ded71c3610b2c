"""Executor-side model-serving harness (SURVEY.md §4 engineering items).

At cluster scale the model stages need three things the reference never
deals with (it is single-process):

1. **weight distribution** — weights are broadcast once, as float
   arrays and unquantized (``spark.sparkContext.broadcast``), instead of
   being re-read per task;
2. **per-worker singletons** — a process-global registry keyed by model
   name, so a long-lived python worker (``spark.python.worker.reuse=true``)
   deserializes the model once and serves every subsequent task
   (reference analogue: lazy safetensors load at
   /root/reference/docling_ibm_models/tableformer/data_management/tf_predictor.py:189-207);
3. **thread pinning** — a real torch backend would call
   ``torch.set_num_threads(max(1, cores_per_task))`` here to avoid
   oversubscription across concurrent task threads (reference:
   tf_predictor.py:122-124); the numpy stubs are single-threaded already.

The container has no torch/cv2, so the *kernels* behind this harness are
deterministic numpy stubs (models/layout_stub.py, tableformer_stub.py) —
clearly marked — while the serving plumbing (broadcast, singleton,
Arrow-batched invocation) is real and tested.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

_REGISTRY: dict[str, Any] = {}
_LOCK = threading.Lock()


def get_or_create(name: str, factory: Callable[[], Any]) -> Any:
    """Process-global model singleton: built once per python worker."""
    model = _REGISTRY.get(name)
    if model is None:
        with _LOCK:
            model = _REGISTRY.get(name)
            if model is None:
                model = factory()
                _REGISTRY[name] = model
    return model


def get_profiler(name: str = "default", window_size: int = 20):
    """Per-worker AggSectionProfiler singleton (reference AggProfiler is a
    process-global singleton, app_profiler.py:148; here it rides the same
    per-python-worker registry as the models, so each long-lived worker
    aggregates a sliding window of its own table/page cycles).

    ``window_size`` is part of the registry key: asking for the same name
    with a different window yields a DIFFERENT profiler instance rather
    than silently returning one with the wrong window (the reference
    singleton has the same first-caller-wins trap, AggProfiler.__init__)."""
    from docling_ibm_models_spark.functions.profiler import AggSectionProfiler

    return get_or_create(
        f"_profiler:{name}:w{window_size}",
        lambda: AggSectionProfiler(window_size=window_size),
    )


def broadcast_weights(spark, weights: dict) -> Any:
    """Driver-side: ship a weights dict to every executor once."""
    return spark.sparkContext.broadcast(weights)


_BC_CACHE: dict = {}


def broadcast_weights_cached(spark, name: str, factory: Callable[[], dict]) -> Any:
    """Driver-side memoized :func:`broadcast_weights`, keyed by (Spark
    application id, model name): repeated plan construction (bench passes,
    the six pipeline queries sharing layout weights) must not rebuild and
    re-serialize a multi-MB weights dict per invocation — on a cluster the
    broadcast is torrent-distributed once and every later stage reuses the
    same block. A new SparkContext (new applicationId) naturally misses
    the cache, so stale Broadcast handles from a stopped context are never
    returned."""
    key = (spark.sparkContext.applicationId, name)
    bc = _BC_CACHE.get(key)
    if bc is None:
        with _LOCK:
            bc = _BC_CACHE.get(key)
            if bc is None:
                bc = spark.sparkContext.broadcast(factory())
                _BC_CACHE[key] = bc
    return bc
