"""The benchmark's workloads.

Each workload stages its views over the generated parquet files, runs a
timed unit through the engine's public API, runs the same calls as
nested layer prefixes under the tracer, and checks one untimed result
against the DuckDB oracle. No call passes ``strategy=``: the benchmark
measures whatever the engine does by default.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from feast_spark import (
    Entity,
    FeatureStore,
    FeatureView,
    Field,
    ParquetSource,
    latest_row_dedup,
    point_in_time_join,
)
from feast_spark.operators.windows import lag_lead_features, rolling_agg, sessionize

import data
import oracle
from oracle import ViewSpec

def noop(df) -> None:
    """Run ``df`` to completion, every column, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


def _dt(us: int) -> datetime:
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc)


class Workload:
    """Shared plumbing. Subclasses set ``views`` (name -> ViewSpec, which
    both the engine's views and the oracle are built from) and implement
    ``unit``, ``traced_unit`` and ``check``."""

    name = ""
    unit_spans: tuple[str, ...] = ()  # spans whose walls add up to one unit
    partitions: dict[str, str] = {}  # view -> date partition column

    def __init__(self, inputs: data.Inputs, work: str):
        self.inputs = inputs
        self.work = work
        self.spark = None
        self.store = None

    def stage(self, spark) -> None:
        """Register the views and resolve every source (file listing and
        parquet schema) — the engine's side of staging the inputs."""
        self.spark = spark
        self.store = FeatureStore(spark)
        views = self.build_views()
        self.store.apply(views)
        self.sources = {v.name: v.source.load(spark) for v in views}

    def build_views(self) -> list[FeatureView]:
        views = []
        for name, spec in self.views.items():
            source = ParquetSource(
                self.inputs.tables[name],
                created_timestamp_column="created" if spec.created else None,
                date_partition_column=self.partitions.get(name),
            )
            views.append(FeatureView(
                name, source, entities=[Entity(k) for k in spec.keys],
                schema=[Field(c) for c in spec.cols],
                ttl=timedelta(seconds=spec.ttl_s) if spec.ttl_s else None,
            ))
        return views


class TrainRetrieval(Workload):
    """Training-set build over three views, then window features:
    ``token_seq`` (TTL, date-partitioned, backfill ties), ``doc_stats``
    (no TTL, broadcastable, one hot doc with a long history) and the
    entityless ``daily``."""

    name = "train_retrieval"
    unit_spans = ("windows",)
    partitions = {"token_seq": "day"}

    def __init__(self, inputs, work):
        super().__init__(inputs, work)
        t = inputs.tables
        self.views = {
            "token_seq": ViewSpec(t["token_seq"], ("doc_id",),
                                  ("tokens", "n_tok", "source", "seq_at"), "seq_at",
                                  ttl_s=3 * data.DAY, created=True),
            "doc_stats": ViewSpec(t["doc_stats"], ("doc_id",),
                                  ("n_links", "quality", "stats_at"), "stats_at"),
            "daily": ViewSpec(t["daily"], (), ("traffic", "traffic_at"), "traffic_at"),
        }

    def stage(self, spark) -> None:
        super().stage(spark)
        self.spine = spark.read.parquet(self.inputs.tables["spine"])

    def driving_rows(self) -> int:
        return self.inputs.rows["spine"]

    def refs(self) -> list[str]:
        return [f"{n}:{c}" for n, spec in self.views.items() for c in spec.cols]

    def retrieve(self):
        return self.store.get_historical_features(self.spine, self.refs()).to_spark_df()

    @staticmethod
    def windows(df):
        df = lag_lead_features(df.filter(F.col("n_tok").isNotNull()), ["doc_id"],
                               "event_timestamp", ["n_tok"], offsets=[1])
        df = rolling_agg(df, ["doc_id"], "event_timestamp", [("sum", "n_tok")], data.DAY)
        return sessionize(df, ["doc_id"], "event_timestamp", 6 * 3600)

    def unit(self) -> int:
        noop(self.windows(self.retrieve()))
        return self.driving_rows()

    def traced_unit(self, tracer) -> None:
        """source → asof_join → store → windows: each prefix runs to a
        noop sink under its own span."""
        with tracer.span("source"):
            noop(self.spine)
            for df in self.sources.values():
                noop(df)
        with tracer.span("asof_join", parent="source"):
            for name, spec in self.views.items():
                noop(point_in_time_join(
                    self.spine, self.sources[name], list(spec.keys), list(spec.cols),
                    created_col="created" if spec.created else None,
                    ttl_seconds=spec.ttl_s or None,
                ))
        with tracer.span("store", parent="asof_join"):
            t0 = time.perf_counter()
            job = self.store.get_historical_features(self.spine, self.refs())
            tracer.note("store.plan_s", time.perf_counter() - t0)
            noop(job.to_spark_df())
        with tracer.span("windows", parent="store"):
            noop(self.windows(self.retrieve()))

    def check(self, con):
        path = os.path.join(self.work, "check-retrieval")
        self.retrieve().write.parquet(path)
        return [oracle.check_pit(con, self.name, self.inputs.tables["spine"],
                                 list(self.views.values()), oracle.scan(path))]


class MaterializeServe(Workload):
    """Offline materialization and online push per unit; 100-key online
    lookups mixing live, TTL-expired and ghost keys."""

    name = "materialize_serve"
    unit_spans = ("materialize", "online.push")
    TRACED_LOOKUPS = 3
    VIEW = "doc_activity"
    LOOKUP_KEYS = 100

    def __init__(self, inputs, work):
        super().__init__(inputs, work)
        self.ttl_s = data.SERVE["ttl_days"] * data.DAY
        self.views = {self.VIEW: ViewSpec(inputs.tables[self.VIEW], ("doc_id",),
                                          ("clicks", "dwell", "activity_at"), "activity_at",
                                          ttl_s=self.ttl_s, created=True)}
        self.start = _dt(data.EPOCH_US)
        # lookups are "now" = the end of the data: the wall-clock default
        # would TTL-expire every synthetic row
        self.now = _dt(inputs.end_us)
        self.units = 0
        self.requests = self._requests(np.random.default_rng(inputs.end_us))

    def _requests(self, rng, n: int = 16) -> list[list[str]]:
        """Key lists for lookups: 70 % live, 20 % TTL-expired, 10 % ghost."""
        t = pq.read_table(self.inputs.tables[self.VIEW], columns=["doc_id", "event_timestamp"])
        last = t.group_by("doc_id").aggregate([("event_timestamp", "max")])
        ts_us = pc.cast(last["event_timestamp_max"], "int64").to_numpy()
        ids = last["doc_id"].to_numpy(zero_copy_only=False)
        live = ids[ts_us >= self.inputs.end_us - self.ttl_s * 1_000_000]
        expired = ids[ts_us < self.inputs.end_us - self.ttl_s * 1_000_000]
        k = self.LOOKUP_KEYS
        return [
            list(rng.choice(live, int(k * 0.7), replace=False))
            + list(rng.choice(expired, int(k * 0.2), replace=False))
            + [f"ghost_{i:07d}" for i in rng.choice(10**6, k - int(k * 0.7) - int(k * 0.2),
                                                    replace=False)]
            for _ in range(n)
        ]

    def driving_rows(self) -> int:
        return self.inputs.rows[self.VIEW]

    def _paths(self, i: int) -> tuple[str, str]:
        return (os.path.join(self.work, f"offline-{i}"), os.path.join(self.work, f"online-{i}"))

    def materialize(self, i: int):
        """Each unit writes to fresh paths: a reused offline path would
        resume from its manifest and skip every day. Outputs stay until
        the run's scratch directory is removed, so no deletion runs
        between timed units."""
        offline, _ = self._paths(i)
        return self.store.materialize(self.VIEW, offline, self.start, self.now)

    def push(self, i: int) -> int:
        return self.store.materialize_online(self.VIEW, self._paths(i)[1], self.start, self.now)

    def unit(self) -> int:
        self.units += 1
        self.materialize(self.units)
        self.push(self.units)
        return self.driving_rows()

    def lookup_frames(self):
        return [self.spark.createDataFrame([(k,) for k in keys], "doc_id string")
                for keys in self.requests]

    def lookup(self, frame) -> list:
        refs = [f"{self.VIEW}:{c}" for c in self.views[self.VIEW].cols]
        out = self.store.get_online_features(refs, frame, self._paths(self.units)[1], now=self.now)
        return out.withColumn("activity_at", F.unix_micros("activity_at")).collect()

    def traced_unit(self, tracer) -> None:
        self.units += 1
        with tracer.span("dedup"):
            noop(latest_row_dedup(self.sources[self.VIEW], ["doc_id"], "event_timestamp", "created"))
        with tracer.span("materialize"):
            res = self.materialize(self.units)
        with tracer.span("online.push"):
            self.push(self.units)
        offline, online = self._paths(self.units)
        tracer.note("stored_bytes_per_row",
                    (_dir_bytes(offline) + _dir_bytes(online)) / max(res.rows, 1))
        for frame in self.lookup_frames()[:self.TRACED_LOOKUPS]:
            with tracer.span("online.lookup"):
                self.lookup(frame)

    def check(self, con):
        cols = self.views[self.VIEW].cols
        offline, _ = self._paths(self.units)
        reports = [oracle.check_materialized(
            con, self.inputs.tables[self.VIEW], offline, data.EPOCH_US, self.inputs.end_us,
            cols, "activity_at")]
        rows = self.lookup(self.lookup_frames()[0])
        reports.append(oracle.check_lookup(
            con, self.inputs.tables[self.VIEW], self.requests[0], [tuple(r) for r in rows], cols,
            "activity_at", self.inputs.end_us, self.ttl_s))
        return reports


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if not f.startswith("."))


WORKLOADS = {w.name: w for w in (TrainRetrieval, MaterializeServe)}
