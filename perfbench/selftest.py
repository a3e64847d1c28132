"""Harness self-test: the oracles accept a right answer and reject wrong ones.

    python3 perfbench/selftest.py

Needs no Spark. For each check it builds the oracle's own answer from
seeded inputs, confirms the check accepts it, then injects one error at
a time and confirms the check rejects it:

* PIT: one feature row shifted one second into the future (a leak); one
  duplicate spine row dropped; a backfill tie resolved to the older
  ``created`` row; a ghost key given features; a TTL-expired row served.
* materialize: one written row shifted one second earlier.
* lookup: one TTL-expired key served its stale row.

Exits 0 only when every right answer passes and every wrong one fails.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

import data  # noqa: E402
import oracle  # noqa: E402
from oracle import ViewSpec  # noqa: E402

SEQ_COLS = ("tokens", "n_tok", "source", "seq_at")
STATS_COLS = ("n_links", "quality", "stats_at")
ACT_COLS = ("clicks", "dwell", "activity_at")
TS = ("event_timestamp", "seq_at", "stats_at", "traffic_at")

# Each mutation rewrites table `cand` (the oracle's PIT answer, times as
# TIMESTAMP) in place; `seq` is the token_seq source.
PIT_MUTATIONS = {
    "feature row 1 s in the future": """
        UPDATE cand SET seq_at = event_timestamp + INTERVAL 1 SECOND
        WHERE rowid = (SELECT min(rowid) FROM cand WHERE seq_at IS NOT NULL)""",
    "duplicate spine row dropped": """
        DELETE FROM cand WHERE rowid = (SELECT min(rid) FROM (
            SELECT rowid AS rid, count(*) OVER (PARTITION BY doc_id, event_timestamp) AS n
            FROM cand) WHERE n > 1)""",
    "backfill tie resolved to the older created": """
        UPDATE cand SET tokens = o.tokens, n_tok = o.n_tok FROM (
            SELECT c.rowid AS rid, s.tokens, s.n_tok FROM cand c JOIN seq s
              ON s.doc_id = c.doc_id AND s.event_timestamp = c.seq_at
            QUALIFY row_number() OVER (PARTITION BY c.rowid ORDER BY s.created) = 1
                AND count(*) OVER (PARTITION BY c.rowid) > 1
            LIMIT 1) o WHERE cand.rowid = o.rid""",
    "ghost key given features": """
        UPDATE cand SET n_links = 1 WHERE rowid = (
            SELECT min(rowid) FROM cand WHERE doc_id LIKE 'ghost_%')""",
    "TTL-expired row served": """
        UPDATE cand SET tokens = o.tokens, n_tok = o.n_tok, source = o.source,
                        seq_at = o.event_timestamp FROM (
            SELECT c.rowid AS rid, s.tokens, s.n_tok, s.source, s.event_timestamp
            FROM cand c JOIN seq s ON s.doc_id = c.doc_id
             AND s.event_timestamp < c.event_timestamp - INTERVAL 3 DAY
            WHERE c.seq_at IS NULL
            QUALIFY row_number() OVER (PARTITION BY c.rowid ORDER BY s.event_timestamp DESC) = 1
            LIMIT 1) o WHERE cand.rowid = o.rid""",
}


def _as_timestamps(select: str, cols: tuple[str, ...]) -> str:
    """Wrap the oracle's SQL so its epoch-µs columns are TIMESTAMPs again."""
    return f"SELECT * REPLACE ({', '.join(f'make_timestamp({c}) AS {c}' for c in cols)}) FROM ({select})"


def _verdict(label: str, report: oracle.Report, want_ok: bool) -> bool:
    good = report.ok == want_ok
    print(f"{'PASS' if good else 'FAIL'}  {label}: ok={report.ok} rows={report.rows} "
          f"diff_rows={report.diff_rows} leaks={report.leaks}")
    return good


def pit_cases(con, root: str) -> bool:
    inputs = data.generate("train_retrieval", 1, os.path.join(root, "train"))
    t = inputs.tables
    views = [ViewSpec(t["token_seq"], ("doc_id",), SEQ_COLS, "seq_at", 3 * data.DAY, True),
             ViewSpec(t["doc_stats"], ("doc_id",), STATS_COLS, "stats_at"),
             ViewSpec(t["daily"], (), ("traffic", "traffic_at"), "traffic_at")]
    con.execute(f"CREATE TABLE seq AS SELECT * FROM {oracle.scan(t['token_seq'])}")
    answer = _as_timestamps(oracle.expected_pit(t["spine"], views), TS)
    good = True
    for label, mutation in [("right answer", None)] + list(PIT_MUTATIONS.items()):
        con.execute(f"CREATE OR REPLACE TABLE cand AS {answer}")
        if mutation:
            con.execute(mutation)
        report = oracle.check_pit(con, "pit", t["spine"], views, "cand")
        good &= _verdict(f"pit / {label}", report, mutation is None)
    return good


def serve_cases(con, root: str) -> bool:
    inputs = data.generate("materialize_serve", 1, os.path.join(root, "serve"))
    src, end = inputs.tables["doc_activity"], inputs.end_us
    ttl = data.SERVE["ttl_days"] * data.DAY
    good = True
    for label, mutation in [("right answer", None), ("one row shifted one second earlier", """
            UPDATE mat SET event_timestamp = event_timestamp - INTERVAL 1 SECOND
            WHERE rowid = (SELECT min(rowid) FROM mat)""")]:
        out = os.path.join(root, f"mat-{mutation is not None}")
        con.execute("CREATE OR REPLACE TABLE mat AS " + _as_timestamps(
            oracle.expected_materialized(src, data.EPOCH_US, end, ACT_COLS, "activity_at"),
            ("event_timestamp", "created", "activity_at")))
        if mutation:
            con.execute(mutation)
        con.execute(f"COPY (SELECT * REPLACE (DATE '1970-01-01' + CAST(day AS INTEGER) AS day) "
                    f"FROM mat) TO '{out}' (FORMAT parquet, PARTITION_BY (day))")
        report = oracle.check_materialized(con, src, out, data.EPOCH_US, end, ACT_COLS,
                                           "activity_at")
        good &= _verdict(f"materialize / {label}", report, mutation is None)

    last = con.execute(
        f"SELECT doc_id, max(epoch_us(event_timestamp)) FROM {oracle.scan(src)} GROUP BY 1"
    ).fetchall()
    expired = [k for k, ts in last if ts < end - ttl * 1_000_000][:10]
    live = [k for k, ts in last if ts >= end - ttl * 1_000_000][:80]
    request = live + expired + ["ghost_0000001"]
    rows = con.execute(oracle.expected_lookup(con, src, request, ACT_COLS, "activity_at",
                                              end, ttl)).fetchall()
    report = oracle.check_lookup(con, src, request, rows, ACT_COLS, "activity_at", end, ttl)
    good &= _verdict("lookup / right answer", report, True)
    stale = con.execute(oracle.expected_lookup(con, src, request, ACT_COLS, "activity_at",
                                               end, ttl * 1000)).fetchall()
    stale_row = next(s for s in stale if s[0] == expired[0])
    wrong = [stale_row if r[0] == expired[0] else r for r in rows]
    report = oracle.check_lookup(con, src, request, wrong, ACT_COLS, "activity_at", end, ttl)
    good &= _verdict("lookup / TTL-expired key served", report, False)
    return good


def main() -> int:
    root = os.path.join(os.path.dirname(HERE), ".perfbench_work", f"selftest-{os.getpid()}")
    con = oracle.connect(os.path.join(root, "duckdb"))
    try:
        good = pit_cases(con, root) & serve_cases(con, root)
    finally:
        con.close()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass  # a benchmark run still uses it
    print("self-test", "passed" if good else "FAILED")
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main())
