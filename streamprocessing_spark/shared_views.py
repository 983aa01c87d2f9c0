"""Session-scoped shared materializations ("build once, query many").

Several registered queries compose the same expensive sub-pipeline — the
nine graph operators all start from the distinct order-part relation, and
six dedup-family queries all start from the verified MinHash-LSH pair set
(and three of those from its connected components). Catalyst does not CSE
across separate query invocations, so without sharing each query re-runs
the whole cascade; with the driver's correctness gate walking queries
sequentially in ONE session, that is pure waste (measured: the dedup
cascade alone re-ran ~5× for ~35 s of the sf0.01 gate budget).

The pattern (proven by queries/graph.py in round 2, factored here):
materialize the shared relation ONCE per (session, sf_dir) as an eagerly
built CACHE behind a temp view. A cache — not a localCheckpoint — because
cached blocks recompute from lineage after executor loss where checkpoint
blocks would fail the query, and CacheManager can actually free them.
Module globals hold only view NAMES plus a registry that pickles empty
(house rule: shippable modules must never capture a DataFrame — it holds
a SparkContext, which must never ride along in a serialized task; see
shipping.ensure_shippable and engine._PluginCacheRegistry).

Staleness contract: each view is a SNAPSHOT — if files under sf_dir
change within the session, consumers keep serving the cached data until
``release_shared_views`` runs (the read-consistency a materialized view
gives; invalidation is an explicit hook, not guessed from mtimes).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class _SharedViewRegistry(dict):
    """view name -> the cached DataFrame backing it (dropping the temp
    view alone would leave the cache entry pinned in the CacheManager).
    Pickles as EMPTY — see module docstring."""

    def __reduce__(self):
        return (_SharedViewRegistry, ())


_VIEWS: dict[str, DataFrame] = _SharedViewRegistry()


def shared_view(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    builder: Callable[[], DataFrame],
) -> DataFrame:
    """Return the shared relation ``kind`` for ``sf_dir``, building and
    eagerly caching it on first use in this session. ``builder`` runs
    only on a miss."""
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    name = f"graft_sv_{kind}_{digest}"
    if not spark.catalog.tableExists(name):
        df = builder().persist()
        df.count()  # eager: every consumer reads a built cache
        df.createOrReplaceTempView(name)
        _VIEWS[name] = df
    return spark.table(name)


def release_shared_views(spark: SparkSession) -> int:
    """Drop every shared temp view and unpersist its cache — the eviction
    hook mirroring engine.release_plugin_caches. Returns the number of
    views released; safe on a session that built none."""
    released = 0
    for name, df in list(_VIEWS.items()):
        try:
            spark.catalog.dropTempView(name)
        except Exception:  # noqa: BLE001 — view may belong to a dead session
            pass
        try:
            df.unpersist(blocking=True)
        except Exception:  # noqa: BLE001
            pass
        del _VIEWS[name]
        released += 1
    return released
