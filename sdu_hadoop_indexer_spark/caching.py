"""One registry for the engine's pinned artifacts.

Several operators read the same derived relation or driver-side model on
every call: the table handles, the token sets, the MinHash band table, the
blocked all-pairs replication, the τ=0.9 and containment edge sets, the
IVF centroids and PQ codebooks. At cluster scale these are the staged
tables a pipeline writes once between stages; in-session they are pinned
here, once per input.

Policy (the whole of it):

* An entry is keyed on (application id, ``name``, ``sf_dir``, ``key``) and
  carries a stamp of its inputs: (mtime_ns, size) of every
  ``catalog.TABLES`` parquet path under ``sf_dir``. A stale stamp is a
  miss, and the old entry is RELEASED before the rebuild — otherwise
  Spark's CacheManager would keep substituting the stale persisted data
  for any fresh plan that matches it.
* On a miss, entries of dead applications are dropped (their executors
  are gone; there is nothing left to release). Live entries for other
  ``sf_dir``s are kept, so a caller interleaving scale factors does not
  rebuild on every switch.
* ``form`` says how the value is held and released:
  ``"plan"`` stores it as is (table handles, row-group counts, centroid
  and codebook lists) and releases nothing; ``"persist"`` calls
  ``.persist()`` and releases with ``unpersist(blocking=True)`` —
  corpus-shaped pins, whose build-time partitioning a checkpoint would
  freeze; ``"leaf"`` stages a local checkpoint (``iteration.stage_round``)
  so consumers plan against a leaf instead of re-analyzing the lineage
  per branch, and releases the checkpoint RDD of the leaf's own plan —
  never a pin the build read lazily (a leaf over ``token_sets`` leaves
  ``token_sets`` persisted). A leaf cannot recompute after executor loss;
  on a real cluster it is a staged parquet table (``reliable=True``).
* ``clear(name)`` releases and drops every entry of ``name`` (all entries
  when ``name`` is None); ``stats(name)`` reports hits and builds.

A build may also register its value as a temp view (the index pins do,
under a per-input name): the view holds the plan that is persisted, so
statements over it read the cached rows, and a rebuild re-registers it.
Reach a pinned frame from ``spark.sql`` through such a view, never as a
keyword DataFrame (``spark.sql(text, t=df)``): PySpark drops the temporary
view it registers for ``df`` on return, and dropping it uncaches the pin
while ``df.is_cached`` still reads True.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .iteration import stage_round

_PINS: dict[tuple, tuple[tuple, str, Any]] = {}
_STATS: dict[str, dict[str, int]] = {}


def _stamp(sf_dir: str) -> tuple:
    from .catalog import TABLES  # catalog imports this module

    out = []
    for t in TABLES:
        try:
            st = os.stat(f"{sf_dir}/{t}.parquet")
            out.append((st.st_mtime_ns, st.st_size))
        except OSError:
            out.append(None)
    return tuple(out)


def _release(form: str, value: Any) -> None:
    if form == "persist":
        value.unpersist(blocking=True)
    elif form == "leaf":
        value._jdf.queryExecution().analyzed().rdd().unpersist(True)


def pin(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], Any],
    form: str,
    key: tuple = (),
) -> Any:
    """The pinned value of ``build()`` for this input (see module docstring)."""
    app = spark.sparkContext.applicationId
    k = (app, name, sf_dir, key)
    stamp = _stamp(sf_dir)
    counts = _STATS.setdefault(name, {"hits": 0, "builds": 0})
    entry = _PINS.get(k)
    if entry is not None:
        if entry[0] == stamp:
            counts["hits"] += 1
            return entry[2]
        del _PINS[k]
        _release(entry[1], entry[2])
    for dead in [o for o in _PINS if o[0] != app]:
        del _PINS[dead]
    value = build()
    if form == "persist":
        value = value.persist()
    elif form == "leaf":
        value = stage_round(value, False)
    _PINS[k] = (stamp, form, value)
    counts["builds"] += 1
    return value


def clear(name: str | None = None) -> None:
    sc = SparkContext._active_spark_context
    live = sc.applicationId if sc is not None else None
    for k in [k for k in _PINS if name is None or k[1] == name]:
        _, form, value = _PINS.pop(k)
        if k[0] == live:
            _release(form, value)


def stats(name: str) -> dict[str, int]:
    return dict(_STATS.get(name, {"hits": 0, "builds": 0}))
