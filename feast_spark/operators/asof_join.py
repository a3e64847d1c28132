"""Point-in-time (as-of) join — the core operator of the engine.

Semantics (matching the reference's get_historical_features, see
spark_offline_store/spark.py:674-848 SQL template and
offline_stores/dask.py:654-805 dataframe path):

For each spine row ``(entity keys, event_timestamp)``:

* candidate feature rows are those with the same entity keys and
  ``feature.ts <= spine.event_timestamp`` (inclusive — temporal
  no-leakage upper bound),
* if ``ttl > 0``: additionally ``feature.ts >= spine.event_timestamp - ttl``,
* among candidates keep the one with the greatest ``ts``; ties broken by
  greatest ``created`` timestamp (backfill semantics,
  test_universal_historical_retrieval.py:546-641),
* spine rows with no candidate keep NULL feature values (left-join
  preservation, dask.py:736-756),
* output has exactly one row per spine row (multiplicity preserved).

Algorithm — one physical path, a tagged union with a running last
(the pattern of Tempo's ``asofJoin``):

* feature rows become ``(keys, ts, struct(ts, created, tie-breaks,
  payload))``; rows with a NULL key or NULL ts are dropped first — an
  equi-join never matched them, but a window partition would put NULL
  keys of both sides together;
* spine rows become ``(keys, ts, struct(every spine column))``, so
  exact-duplicate spine rows stay separate rows without a row id;
* the two are unioned and, per key, ordered by ``(ts, features before
  spine, created asc nulls first, tie-breaks asc nulls first)``; the
  running ``last(feature struct, ignorenulls=True)`` at a spine row is
  exactly the latest feature row at or before it, max-created on ties;
* spine rows are kept and unpacked, and a match older than the TTL is
  NULLed.

The plan is one hash shuffle of the union on the keys, one sort and one
streaming window pass — no join, no row id, no Python. A hot key stays
linear (the pass never pairs spine rows with feature versions). An
entityless view uses the same window with no partition key: one task
holds the whole union.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TS, _FEAT, _ROW = "__asof_ts", "__asof_feature", "__asof_spine"


def point_in_time_join(
    spine: DataFrame,
    features: DataFrame,
    join_keys: Sequence[str],
    feature_cols: Sequence[str] | None = None,
    *,
    spine_ts_col: str = "event_timestamp",
    feature_ts_col: str = "event_timestamp",
    created_col: str | None = None,
    ttl_seconds: int | None = None,
    include_feature_ts: bool = False,
    tie_breaker_cols: Sequence[str] = (),
    feature_prefix: str = "",
) -> DataFrame:
    """As-of join ``features`` onto ``spine`` (see module docstring).

    ``feature_cols`` default: every feature column that is not a join key
    or timestamp. ``tie_breaker_cols`` optionally adds deterministic
    final tie-breaks after (ts, created) — needed when duplicate
    (key, ts, created) rows exist and bit-exact reproducibility matters.
    ``feature_prefix`` renames output feature columns (``prefix + name``)
    — required when a feature column name already exists on the spine.
    Returns spine columns + feature columns (+ ``feature_ts_col`` as
    ``__feature_ts`` when ``include_feature_ts``).
    """
    keys = list(join_keys)
    if feature_cols is None:
        meta = set(keys) | {feature_ts_col, created_col}
        feature_cols = [c for c in features.columns if c not in meta]
    names = [feature_prefix + c for c in feature_cols]
    collisions = set(names) & set(spine.columns)
    if collisions:
        raise ValueError(
            f"feature columns {sorted(collisions)} collide with spine columns; "
            "pass feature_prefix=... (full_feature_names=True in FeatureStore) "
            "or rename via field_mapping"
        )
    internal = {_TS, _FEAT, _ROW} | ({"__feature_ts"} if include_feature_ts else set())
    clash = internal & set(spine.columns)
    if clash:
        raise ValueError(f"spine columns {sorted(clash)} collide with as-of join internals")
    tie_breaks = list(tie_breaker_cols)

    # order on one timestamp type: the union would otherwise widen a
    # timestamp/string mix to string and sort lexically
    f_ts, s_ts = F.col(feature_ts_col), F.col(spine_ts_col)
    if features.schema[feature_ts_col].dataType != spine.schema[spine_ts_col].dataType:
        f_ts, s_ts = f_ts.cast("timestamp"), s_ts.cast("timestamp")
    feat = F.struct(
        F.col(feature_ts_col).alias("ts"),
        *([F.col(created_col).alias("created")] if created_col else []),
        *[F.col(c).alias(f"tb{i}") for i, c in enumerate(tie_breaks)],
        *[F.col(c).alias(f"v{i}") for i, c in enumerate(feature_cols)],
    )
    present = F.col(feature_ts_col).isNotNull()
    for k in keys:
        present = present & F.col(k).isNotNull()
    f = features.filter(present).select(*keys, f_ts.alias(_TS), feat.alias(_FEAT))
    s = spine.select(*keys, s_ts.alias(_TS), F.struct(*spine.columns).alias(_ROW))
    union = f.withColumn(_ROW, F.lit(None).cast(s.schema[_ROW].dataType)).unionByName(
        s.withColumn(_FEAT, F.lit(None).cast(f.schema[_FEAT].dataType))
    )

    order = [F.col(_TS), F.col(_FEAT).isNull()]  # features sort first at equal ts
    if created_col:
        order.append(F.col(_FEAT).getField("created").asc_nulls_first())
    order += [F.col(_FEAT).getField(f"tb{i}").asc_nulls_first() for i in range(len(tie_breaks))]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    matched = union.select(
        _TS, _ROW, F.last(_FEAT, ignorenulls=True).over(w).alias(_FEAT)
    ).filter(F.col(_ROW).isNotNull())

    hit = F.col(_FEAT)
    if ttl_seconds and ttl_seconds > 0:
        lower = F.col(_TS) - F.expr(f"INTERVAL {int(ttl_seconds)} SECONDS")
        hit = F.when(hit.getField("ts") >= lower, hit)
    out = [F.col(_ROW).getField(c).alias(c) for c in spine.columns]
    out += [hit.getField(f"v{i}").alias(n) for i, n in enumerate(names)]
    if include_feature_ts:
        out.append(hit.getField("ts").alias("__feature_ts"))
    return matched.select(*out)


def multi_view_pit_join(
    spine: DataFrame,
    views: Iterable[tuple[DataFrame, Sequence[str], dict]],
    *,
    spine_ts_col: str = "event_timestamp",
) -> DataFrame:
    """Join several feature views onto one spine, each with PIT semantics.

    ``views`` yields ``(features_df, join_keys, opts)`` where ``opts`` may
    carry ``feature_cols``, ``feature_ts_col``, ``created_col``,
    ``ttl_seconds``, ``prefix`` (output columns become
    ``{prefix}__{name}``). The views fold left: each view's output is the
    next view's spine, so the spine needs no row id and no fan-in join.
    """
    out = spine
    for features, join_keys, opts in views:
        prefix = opts.get("prefix")
        out = point_in_time_join(
            out,
            features,
            join_keys,
            opts.get("feature_cols"),
            spine_ts_col=spine_ts_col,
            feature_ts_col=opts.get("feature_ts_col", "event_timestamp"),
            created_col=opts.get("created_col"),
            ttl_seconds=opts.get("ttl_seconds"),
            feature_prefix=f"{prefix}__" if prefix else "",
        )
    return out
