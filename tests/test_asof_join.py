"""PIT/as-of join correctness vs the brute-force oracle on the
BASELINE.json-shaped token-sequence data, under every Spark
configuration that may change the plan.

Checks (per BASELINE.md correctness baseline): zero temporal leakage,
TTL expiry, latest-before + created tie-break (backfill), left-join NULL
preservation, exact token-array equality per row.
"""

import numpy as np
import pandas as pd
import pytest

from feast_spark import datagen
from feast_spark.operators.asof_join import point_in_time_join
from tests.oracle import expected_pit_df

TTL = 3 * 24 * 3600  # 3 days


@pytest.fixture(scope="module")
def data(spark):
    feats = datagen.token_sequences(n_docs=60, versions_per_doc=5, seed=7)
    spine = datagen.entity_spine(feats, n_rows=150, seed=11)
    return (
        datagen.to_spark(spark, spine),
        datagen.to_spark(spark, feats),
        spine,
        feats,
    )


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["tokens"] = out["tokens"].map(
        lambda a: None if a is None or (isinstance(a, float) and np.isnan(a)) else tuple(int(x) for x in a)
    )
    out["n_tok"] = out["n_tok"].astype("float64")
    for c in ("event_timestamp",):
        out[c] = pd.to_datetime(out[c]).dt.tz_localize(None) if out[c].dt.tz is not None else out[c]
    return out.sort_values(["doc_id", "event_timestamp", "n_tok"], kind="mergesort").reset_index(
        drop=True
    )


def _expected(spine_pd, feats_pd, ttl):
    exp = expected_pit_df(
        spine_pd,
        feats_pd,
        ["doc_id"],
        created_col="created",
        ttl_seconds=ttl,
        feature_cols=["tokens", "n_tok", "source"],
    )
    exp["event_timestamp"] = pd.to_datetime(exp["event_timestamp"], utc=True).dt.tz_localize(None)
    return _normalize(exp)


@pytest.mark.parametrize("ttl", [TTL, None])
def test_pit_join_matches_oracle(spark, data, ttl):
    spine_df, feats_df, spine_pd, feats_pd = data
    got = point_in_time_join(
        spine_df,
        feats_df,
        ["doc_id"],
        ["tokens", "n_tok", "source"],
        created_col="created",
        ttl_seconds=ttl,
    ).toPandas()
    assert len(got) == len(spine_pd), "spine multiplicity must be preserved"
    exp = _expected(spine_pd, feats_pd, ttl)
    gotn = _normalize(got)
    pd.testing.assert_frame_equal(
        gotn[["doc_id", "event_timestamp", "tokens", "n_tok", "source"]],
        exp[["doc_id", "event_timestamp", "tokens", "n_tok", "source"]],
        check_dtype=False,
    )


def test_no_temporal_leakage(spark, data):
    spine_df, feats_df, *_ = data
    got = point_in_time_join(
        spine_df,
        feats_df,
        ["doc_id"],
        ["n_tok"],
        created_col="created",
        ttl_seconds=None,
        include_feature_ts=True,
    ).toPandas()
    joined = got.dropna(subset=["__feature_ts"])
    assert (joined["__feature_ts"] <= joined["event_timestamp"]).all()


def test_ttl_expiry(spark, data):
    spine_df, feats_df, *_ = data
    got = point_in_time_join(
        spine_df,
        feats_df,
        ["doc_id"],
        ["n_tok"],
        created_col="created",
        ttl_seconds=3600,
        include_feature_ts=True,
    ).toPandas()
    joined = got.dropna(subset=["__feature_ts"])
    gap = (joined["event_timestamp"] - joined["__feature_ts"]).dt.total_seconds()
    assert (gap <= 3600).all() and (gap >= 0).all()


def test_unknown_keys_yield_nulls(spark, data):
    spine_df, feats_df, spine_pd, _ = data
    got = point_in_time_join(
        spine_df, feats_df, ["doc_id"], ["n_tok"], created_col="created"
    ).toPandas()
    ghosts = got[got["doc_id"].str.startswith("ghost_")]
    assert len(ghosts) == (spine_pd["doc_id"].str.startswith("ghost_")).sum()
    assert ghosts["n_tok"].isna().all()


def test_backfill_created_tiebreak(spark):
    """Reference backfill test semantics
    (test_universal_historical_retrieval.py:546-641): same event_ts twice
    → row with later created wins; later event_ts with earlier created
    still wins on event_ts."""
    ts = pd.Timestamp("2024-01-05")
    feats = pd.DataFrame(
        {
            "doc_id": ["a", "a", "a", "a"],
            "event_timestamp": [ts, ts, ts + pd.Timedelta(hours=1), ts + pd.Timedelta(hours=1)],
            "created": [
                ts + pd.Timedelta(hours=5),
                ts + pd.Timedelta(hours=9),  # later created wins at same ets
                ts + pd.Timedelta(hours=2),
                ts + pd.Timedelta(hours=1),
            ],
            "val": [1, 2, 3, 4],
        }
    )
    spine = pd.DataFrame(
        {
            "doc_id": ["a", "a"],
            "event_timestamp": [ts + pd.Timedelta(minutes=30), ts + pd.Timedelta(hours=2)],
        }
    )
    sdf, fdf = datagen.to_spark(spark, spine), datagen.to_spark(spark, feats)
    got = (
        point_in_time_join(sdf, fdf, ["doc_id"], ["val"], created_col="created")
        .toPandas()
        .sort_values("event_timestamp")
    )
    assert got["val"].tolist() == [2, 3]


def test_entityless_view(spark):
    ts = pd.Timestamp("2024-01-05")
    feats = pd.DataFrame(
        {
            "event_timestamp": [ts, ts + pd.Timedelta(days=1)],
            "created": [ts, ts + pd.Timedelta(days=1)],
            "total": [10, 20],
        }
    )
    spine = pd.DataFrame(
        {
            "doc_id": ["x", "y"],
            "event_timestamp": [ts + pd.Timedelta(hours=1), ts + pd.Timedelta(days=2)],
        }
    )
    sdf, fdf = datagen.to_spark(spark, spine), datagen.to_spark(spark, feats)
    got = (
        point_in_time_join(sdf, fdf, [], ["total"], created_col="created")
        .toPandas()
        .sort_values("doc_id")
    )
    assert got["total"].tolist() == [10, 20]


def test_composite_key_pit(spark):
    """PIT join on two join keys (entity composite)."""
    ts = pd.Timestamp("2024-01-05")
    feats = pd.DataFrame(
        {
            "tenant": ["t1", "t1", "t2", "t2"],
            "doc_id": ["a", "a", "a", "b"],
            "event_timestamp": [ts, ts + pd.Timedelta(hours=1)] * 2,
            "created": [ts] * 4,
            "val": [1, 2, 3, 4],
        }
    )
    spine = pd.DataFrame(
        {
            "tenant": ["t1", "t2", "t2", "t3"],
            "doc_id": ["a", "a", "b", "a"],
            "event_timestamp": [ts + pd.Timedelta(hours=2)] * 4,
        }
    )
    sdf, fdf = datagen.to_spark(spark, spine), datagen.to_spark(spark, feats)
    got = (
        point_in_time_join(sdf, fdf, ["tenant", "doc_id"], ["val"], created_col="created")
        .toPandas()
        .sort_values(["tenant", "doc_id"])
    )
    assert got["val"].fillna(-1).tolist() == [2, 3, 4, -1]


def test_null_keys_and_timestamps(spark):
    """Spine rows with a NULL key or NULL ts are kept with NULL features;
    a NULL-key feature row never matches a NULL-key spine row (an
    equi-join never did, a window partition would), and a NULL-ts
    feature row never matches at all."""
    from datetime import datetime, timedelta

    ts = datetime(2024, 1, 5)
    feats = spark.createDataFrame(
        [("a", ts, 1.0), (None, ts - timedelta(hours=1), 2.0), ("b", None, 3.0)],
        "doc_id string, event_timestamp timestamp, val double",
    )
    later = ts + timedelta(hours=1)
    spine = spark.createDataFrame(
        [(1, "a", later), (2, None, later), (3, "a", None), (4, "b", later), (5, None, None)],
        "sid long, doc_id string, event_timestamp timestamp",
    )
    for ttl in (None, 86400):
        keyed = point_in_time_join(spine, feats, ["doc_id"], ["val"], ttl_seconds=ttl)
        got = {r["sid"]: r["val"] for r in keyed.collect()}
        assert got == {1: 1.0, 2: None, 3: None, 4: None, 5: None}, ttl
        entityless = point_in_time_join(
            spine, feats.drop("doc_id"), [], ["val"], ttl_seconds=ttl
        )
        got = {r["sid"]: r["val"] for r in entityless.collect()}
        assert got == {1: 1.0, 2: 1.0, 3: None, 4: 1.0, 5: None}, ttl


@pytest.fixture(scope="module")
def matrix_data():
    feats = datagen.token_sequences(n_docs=30, versions_per_doc=4, seed=21)
    feats = feats[["doc_id", "event_timestamp", "created", "n_tok"]].copy()
    # input order == rid order, so the oracle's last-of-ties is max rid
    feats["rid"] = np.arange(len(feats), dtype=np.int64)
    spine = datagen.entity_spine(feats, n_rows=80, seed=23)
    spine = pd.concat([spine, spine.iloc[:15]], ignore_index=True)  # exact duplicates
    return feats, spine


@pytest.mark.parametrize("partitions", [1, 3, 8])
@pytest.mark.parametrize("reuse", ["true", "false"])
@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("keyed", [True, False], ids=["keyed", "entityless"])
def test_pit_matches_oracle_under_every_config(spark, matrix_data, keyed, aqe, reuse, partitions):
    """Same answer, no leaked row, under AQE on/off × exchange reuse
    on/off × any shuffle partition count, for a round-robin spine with
    exact-duplicate rows."""
    feats, spine = matrix_data
    keys = ["doc_id"] if keyed else []
    fpd = feats if keyed else feats.drop(columns="doc_id")
    confs = {
        "spark.sql.adaptive.enabled": aqe,
        "spark.sql.exchange.reuse": reuse,
        "spark.sql.shuffle.partitions": str(partitions),
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        got = point_in_time_join(
            datagen.to_spark(spark, spine).repartition(7),
            datagen.to_spark(spark, fpd),
            keys,
            ["n_tok", "rid"],
            created_col="created",
            ttl_seconds=TTL,
            include_feature_ts=True,
            tie_breaker_cols=["rid"],
        ).toPandas()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert not (got["__feature_ts"] > got["event_timestamp"]).any()
    exp = expected_pit_df(
        spine, fpd, keys, created_col="created", ttl_seconds=TTL, feature_cols=["n_tok", "rid"]
    )
    exp["event_timestamp"] = pd.to_datetime(exp["event_timestamp"], utc=True).dt.tz_localize(None)
    cols = ["doc_id", "event_timestamp", "rid"]
    g, e = (
        df[cols].fillna({"rid": -1}).astype({"rid": "int64"})
        .sort_values(cols, kind="mergesort").reset_index(drop=True)
        for df in (got, exp)
    )
    assert len(got) == len(spine)
    pd.testing.assert_frame_equal(g, e)
