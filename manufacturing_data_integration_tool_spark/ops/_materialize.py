"""The one place that decides how an op's intermediate is materialized and
when it is released.

Strategy follows the session's master:

* ``local[...]`` — ``localCheckpoint``: lineage truncated, blocks stored
  only on executors. Cheapest (serialized RDD blocks, no columnar
  re-encode), but a lost block fails the job instead of recomputing, so it
  is only safe where executors are stable.
* any other master — ``persist(MEMORY_AND_DISK)`` for NON-ITERATIVE
  intermediates (:func:`materialize_once`): a lost block recomputes from
  the inputs. ITERATIVE round state (:func:`checkpoint_round`) always
  checkpoints: there lineage growth is the disease, a persisted plan
  would double per round.

``spark.mdi.materialize.mode=off`` is audit-only (``tools/plan_audit.py
--full-lineage``): nothing is materialized, so ``explain`` shows the full
lineage. It changes speed, never results.

Release: an op returns a lazy frame, so it cannot free what it made; the
code that runs the last action can. ``with released():`` (or
``@released()``) records every frame this module makes while it is open
and releases each one on exit: ``unpersist()`` for a persisted frame, the
RDD behind the ``LogicalRDD`` for a local checkpoint (``unpersist()`` does
not release that). The record lives in a ``ContextVar``, so concurrent
``foreachBatch`` threads keep their own. Outside a scope nothing is
recorded or released.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame

MODE_CONF = "spark.mdi.materialize.mode"

_made: ContextVar[Optional[list[DataFrame]]] = ContextVar("mdi_materialized", default=None)


def _off(df: DataFrame) -> bool:
    return df.sparkSession.conf.get(MODE_CONF, "") == "off"


def _on_local_master(df: DataFrame) -> bool:
    return df.sparkSession.conf.get("spark.master", "").startswith("local")


def _track(df: DataFrame) -> DataFrame:
    made = _made.get()
    if made is not None:
        made.append(df)
    return df


def materialize_once(df: DataFrame) -> DataFrame:
    """Materialize a multi-referenced NON-ITERATIVE intermediate once:
    ``localCheckpoint`` under a local master, ``persist(MEMORY_AND_DISK)``
    otherwise."""
    if _off(df):
        return df
    if _on_local_master(df):
        return _track(df.localCheckpoint(eager=False))
    return _track(df.persist(StorageLevel.MEMORY_AND_DISK))


def checkpoint_round(df: DataFrame) -> DataFrame:
    """Per-round lineage checkpoint for ITERATIVE ops (pagerank, kcore,
    hits, label propagation, connected components, the BPE vocab loop):
    always ``localCheckpoint``, whatever the master."""
    return df if _off(df) else _track(df.localCheckpoint(eager=False))


def checkpoint_round_eager(df: DataFrame) -> DataFrame:
    """Eager :func:`checkpoint_round`, for the sites that materialize
    mid-loop (pagerank's every-4-rounds checkpoint measured fastest eager)."""
    return df if _off(df) else _track(df.localCheckpoint(eager=True))


def _release(df: DataFrame) -> None:
    if df.is_cached:
        df.unpersist()
        return
    jdf = getattr(df, "_jdf", None)
    if jdf is not None:  # a local checkpoint plans to one scan of its RDD
        jdf.queryExecution().sparkPlan().inputRDDs().head().unpersist(False)


@contextmanager
def released() -> Iterator[None]:
    """Release, on exit, every frame this module made while the scope was
    open. The frames fail if used after that."""
    token = _made.set([])
    try:
        yield
    finally:
        for df in _made.get():
            _release(df)
        _made.reset(token)
