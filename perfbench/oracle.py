"""DuckDB oracles for the benchmark's untimed correctness checks.

Each check compares an engine result (parquet written by Spark, or rows
collected from it) with an answer DuckDB computes from the same staged
inputs, as multisets: rows missing from the engine's answer plus rows
the engine returned that the oracle did not. Timestamps are compared as
microseconds since the epoch so time zones cannot differ.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

DAY_US = 86_400 * 1_000_000


@dataclass(frozen=True)
class ViewSpec:
    """What the oracle needs to know about one feature view."""

    path: str
    keys: tuple[str, ...]
    cols: tuple[str, ...]
    at_col: str  # feature column that copies the row's event timestamp
    ttl_s: int = 0
    created: bool = False


@dataclass
class Report:
    """Outcome of one oracle check."""

    name: str
    rows: int
    diff_rows: int
    leaks: int = 0
    match_rate: float | None = None

    @property
    def ok(self) -> bool:
        matched = self.match_rate is None or self.match_rate > 0
        return self.rows > 0 and self.diff_rows == 0 and self.leaks == 0 and matched


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _us(col: str) -> str:
    return f"epoch_us({col})"


def _select(cols: tuple[str, ...], ts_cols: set[str], alias: str = "") -> str:
    pre = f"{alias}." if alias else ""
    return ", ".join(
        f"{_us(pre + c)} AS {c}" if c in ts_cols else f"{pre}{c}" for c in cols
    )


def _multiset_diff(con, expected: str, actual: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual}))) + "
        f"(SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected})))"
    ).fetchone()[0]


def expected_pit(spine_path: str, views: list[ViewSpec]) -> str:
    """SQL for the point-in-time answer: for every spine row (duplicates
    kept) and view, the latest row with ``ts <= spine ts`` and, under a
    TTL, ``ts >= spine ts - ttl``, ties broken by the greatest
    ``created``; no such row (or a ghost key) gives NULLs."""
    sql = [f"WITH s AS (SELECT row_number() OVER () AS rid, *, "
           f"{_us('event_timestamp')} AS s_us FROM {scan(spine_path)})"]
    joins, out = [], ["s.doc_id", "s.s_us AS event_timestamp"]
    for i, v in enumerate(views):
        on = [f"f.{k} = s.{k}" for k in v.keys] + ["f.f_us <= s.s_us"]
        if v.ttl_s:
            on.append(f"f.f_us >= s.s_us - {v.ttl_s * 1_000_000}")
        order = "f.f_us DESC" + (", f.c_us DESC" if v.created else "")
        created = f", {_us('created')} AS c_us" if v.created else ""
        sql.append(
            f", v{i} AS (SELECT s.rid, {_select(v.cols, {v.at_col}, 'f')} FROM s JOIN "
            f"(SELECT *, {_us('event_timestamp')} AS f_us{created} FROM {scan(v.path)}) f "
            f"ON {' AND '.join(on)} "
            f"QUALIFY row_number() OVER (PARTITION BY s.rid ORDER BY {order}) = 1)"
        )
        joins.append(f"LEFT JOIN v{i} ON v{i}.rid = s.rid")
        out += [f"v{i}.{c}" for c in v.cols]
    return " ".join(sql) + f" SELECT {', '.join(out)} FROM s {' '.join(joins)}"


def check_pit(con, name: str, spine_path: str, views: list[ViewSpec], actual: str) -> Report:
    """Compare a retrieval result (``actual``: a SQL relation) with the
    oracle, count leaked rows and the main view's match rate."""
    cols = tuple(c for v in views for c in v.cols)
    ts_cols = {"event_timestamp"} | {v.at_col for v in views}
    actual_sql = f"SELECT doc_id, {_select(('event_timestamp',) + cols, ts_cols)} FROM {actual}"
    diff = _multiset_diff(con, expected_pit(spine_path, views), actual_sql)
    leak_terms = " + ".join(
        f"count_if({_us(v.at_col)} > {_us('event_timestamp')})" for v in views
    )
    rows, leaks, matched = con.execute(
        f"SELECT count(*), {leak_terms}, count({views[0].at_col}) FROM {actual}"
    ).fetchone()
    return Report(name, rows, diff, leaks, matched / rows if rows else 0.0)


def expected_materialized(source: str, start_us: int, end_us: int,
                          cols: tuple[str, ...], at_col: str) -> str:
    """SQL for what ``materialize`` should write: the latest row per
    (key, UTC day) of the source within [start, end]."""
    sel = _select(("doc_id", "event_timestamp", "created") + cols,
                  {"event_timestamp", "created", at_col})
    return (
        f"SELECT {sel}, {_us('event_timestamp')} // {DAY_US} AS day FROM {scan(source)} "
        f"WHERE {_us('event_timestamp')} BETWEEN {start_us} AND {end_us} "
        f"QUALIFY row_number() OVER (PARTITION BY doc_id, {_us('event_timestamp')} // {DAY_US} "
        f"ORDER BY event_timestamp DESC, created DESC) = 1"
    )


def check_materialized(con, source: str, out_path: str, start_us: int, end_us: int,
                       cols: tuple[str, ...], at_col: str) -> Report:
    """Compare what ``materialize`` wrote under ``day=`` partitions with
    the oracle."""
    sel = _select(("doc_id", "event_timestamp", "created") + cols,
                  {"event_timestamp", "created", at_col})
    actual = f"SELECT {sel}, datediff('day', DATE '1970-01-01', day) AS day FROM {scan(out_path)}"
    expected = expected_materialized(source, start_us, end_us, cols, at_col)
    rows = con.execute(f"SELECT count(*) FROM {scan(out_path)}").fetchone()[0]
    return Report("materialize", rows, _multiset_diff(con, expected, actual))


def expected_lookup(con, source: str, request: list[str], cols: tuple[str, ...],
                    at_col: str, now_us: int, ttl_s: int) -> str:
    """SQL for an online lookup at ``now``: per requested key, the latest
    source row if it is within the TTL, else NULLs (ghost keys: NULLs);
    ``at_col`` as microseconds, other features as DOUBLE."""
    con.execute("CREATE OR REPLACE TEMP TABLE req (doc_id VARCHAR)")
    con.executemany("INSERT INTO req VALUES (?)", [(k,) for k in request])
    latest = (
        f"SELECT * FROM {scan(source)} WHERE {_us('event_timestamp')} <= {now_us} "
        f"QUALIFY row_number() OVER (PARTITION BY doc_id "
        f"ORDER BY event_timestamp DESC, created DESC) = 1"
    )
    live = f"{_us('l.event_timestamp')} >= {now_us - ttl_s * 1_000_000}"
    return "SELECT r.doc_id, " + ", ".join(
        f"CASE WHEN {live} THEN "
        + (_us(f"l.{c}") if c == at_col else f"CAST(l.{c} AS DOUBLE)") + f" END AS {c}"
        for c in cols
    ) + f" FROM req r LEFT JOIN ({latest}) l USING (doc_id)"


def check_lookup(con, source: str, request: list[str], actual_rows: list[tuple],
                 cols: tuple[str, ...], at_col: str, now_us: int, ttl_s: int) -> Report:
    """Compare an online lookup's rows, ``(doc_id, *cols)`` tuples with
    ``at_col`` in microseconds, with the oracle."""
    names = ("doc_id",) + cols
    con.execute(
        "CREATE OR REPLACE TEMP TABLE got (" + ", ".join(
            f"{c} {'BIGINT' if c == at_col else 'DOUBLE' if c != 'doc_id' else 'VARCHAR'}"
            for c in names) + ")"
    )
    con.executemany(f"INSERT INTO got VALUES ({', '.join('?' * len(names))})", actual_rows)
    expected = expected_lookup(con, source, request, cols, at_col, now_us, ttl_s)
    actual = f"SELECT {', '.join(names)} FROM got"
    rows, matched = con.execute(f"SELECT count(*), count({at_col}) FROM got").fetchone()
    return Report("lookup", rows, _multiset_diff(con, expected, actual), 0,
                  matched / rows if rows else 0.0)
