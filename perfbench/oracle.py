"""Correctness checks.  Every result the program produced is compared with an
independent reference computed from the same generated files: DuckDB for the
stream aggregates and the joins, the planted ground truth for the ingest.

Each check returns ``(attempted, failed)``.  Rows are compared as multisets:
a missing row and an extra row each count once, so a wrong sum counts twice
(its expected row is missing and its emitted row is extra), and
``attempted`` is the expected row count plus the extra rows.
"""

from __future__ import annotations

import json
import os

import duckdb

from perfbench import config
from perfbench.gen import FLUSH_USER


def _sql_path(path: str) -> str:
    return path.replace("'", "''")


def compare(con, expected_sql: str, actual_sql: str) -> tuple[int, int]:
    con.execute(f"CREATE OR REPLACE TEMP TABLE _expected AS {expected_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE _actual AS {actual_sql}")
    (n_exp,) = con.execute("SELECT count(*) FROM _expected").fetchone()
    (missing,) = con.execute(
        "SELECT count(*) FROM (FROM _expected EXCEPT ALL FROM _actual)").fetchone()
    (extra,) = con.execute(
        "SELECT count(*) FROM (FROM _actual EXCEPT ALL FROM _expected)").fetchone()
    return n_exp + extra, missing + extra


# -- stream_window_agg -------------------------------------------------------
def stream_expected_sql(input_dir: str) -> str:
    """Per (window, user): sum of ``value * 2 + 1`` over events with
    ``value > filter_gt``, tumbling windows of ``window_s``; the flush event
    never closes and is not expected."""
    cfg = config.STREAM
    w = cfg["window_s"] * 1_000_000
    files = _sql_path(os.path.join(input_dir, "*.parquet"))
    return (
        f"SELECT (epoch_us(ts) // {w}) * {w} AS ws_us, user_id,"
        f" CAST(sum(value * 2 + 1) AS BIGINT) AS value"
        f" FROM read_parquet('{files}')"
        f" WHERE value > {cfg['filter_gt']} AND user_id <> {FLUSH_USER}"
        f" GROUP BY 1, 2"
    )


def check_stream(con, input_dir: str, rows_file: str) -> tuple[int, int]:
    actual = f"SELECT ws_us, user_id, value FROM read_parquet('{_sql_path(rows_file)}')"
    if not os.path.exists(rows_file):
        actual = "SELECT NULL::BIGINT AS ws_us, NULL::BIGINT AS user_id, NULL::BIGINT AS value WHERE false"
    return compare(con, stream_expected_sql(input_dir), actual)


# -- window_join_batch --------------------------------------------------------
def join_expected_sql(input_dir: str, kind: str) -> str:
    cfg = config.JOIN
    w = cfg["window_s"] * 1_000_000
    sides = {
        s: f"SELECT seq, epoch_us(ts) AS t, vehicle_id, {loc} FROM "
           f"read_parquet('{_sql_path(os.path.join(input_dir, s, '*.parquet'))}')"
        for s, loc in (("entry", "entry_loc"), ("exit", "exit_loc"))
    }
    if kind == "sliding":
        ln = cfg["slide_len_s"] * 1_000_000
        st = cfg["slide_step_s"] * 1_000_000
        return (
            f"SELECT w * {st} AS ws_us, count(*) AS n FROM ("
            f" SELECT unnest(range((t - {ln} + {st}) // {st}, t // {st} + 1)) AS w"
            f" FROM ({sides['entry']})) GROUP BY 1"
        )
    how = {"inner": "JOIN", "left": "LEFT JOIN"}[kind]
    return (
        f"SELECT (l.t // {w}) * {w} AS ws_us, l.vehicle_id, l.seq AS l_seq,"
        f" r.seq AS r_seq, l.entry_loc, r.exit_loc"
        f" FROM ({sides['entry']}) l {how} ({sides['exit']}) r"
        f" ON l.vehicle_id = r.vehicle_id AND l.t // {w} = r.t // {w}"
    )


def check_join(con, input_dir: str, out_dir: str) -> tuple[int, int]:
    attempted = failed = 0
    for kind in ("inner", "left", "sliding"):
        path = os.path.join(out_dir, f"join_{kind}.parquet", "*.parquet")
        cols = "ws_us, n" if kind == "sliding" else (
            "ws_us, vehicle_id, l_seq, r_seq, entry_loc, exit_loc")
        actual = f"SELECT {cols} FROM read_parquet('{_sql_path(path)}')"
        a, f = compare(con, join_expected_sql(input_dir, kind), actual)
        attempted, failed = attempted + a, failed + f
    return attempted, failed


# -- corpus_ingest ------------------------------------------------------------
def check_corpus(input_dir: str, decisions: list[list[int]]) -> tuple[int, int]:
    """One decision per batch document: kept or dropped, against the plant."""
    with open(os.path.join(input_dir, "truth.json")) as fh:
        truth = json.load(fh)
    attempted = failed = 0
    for b, docs in enumerate(truth):
        keep = {d["id"] for d in docs if d["keep"]}
        got = set(decisions[b]) if b < len(decisions) else set()
        attempted += len(docs) + len(got - {d["id"] for d in docs})
        failed += len(keep ^ got)
    return attempted, failed


def self_test(con, expected_sql: str, actual_path: str) -> list[str]:
    """Corrupt a result three ways and confirm each raises the failure
    count.  Returns the names of the corruptions the check missed."""
    base = f"SELECT * FROM read_parquet('{_sql_path(actual_path)}')"
    first = f"(SELECT * FROM ({base}) ORDER BY ALL LIMIT 1)"
    cols = [r[0] for r in con.execute(f"DESCRIBE {base}").fetchall()]
    last = cols[-1]
    bumped = ", ".join(c if c != last else f"{c} + 1 AS {c}" for c in cols)
    cases = {
        "drop_row": f"({base}) EXCEPT ALL {first}",
        "change_value": f"(({base}) EXCEPT ALL {first}) UNION ALL SELECT {bumped} FROM {first}",
        "duplicate_row": f"({base}) UNION ALL {first}",
    }
    baseline = compare(con, expected_sql, base)[1]
    return [name for name, sql in cases.items()
            if compare(con, expected_sql, sql)[1] <= baseline]


def self_test_corpus(input_dir: str) -> list[str]:
    with open(os.path.join(input_dir, "truth.json")) as fh:
        truth = json.load(fh)
    good = [sorted(d["id"] for d in docs if d["keep"]) for docs in truth]
    dup = next(d["id"] for d in truth[0] if not d["keep"])
    cases = {
        "keep_duplicate": [good[0] + [dup]] + good[1:],
        "drop_survivor": [good[0][1:]] + good[1:],
    }
    missed = [n for n, dec in cases.items() if check_corpus(input_dir, dec)[1] == 0]
    if check_corpus(input_dir, good)[1] != 0:
        missed.append("truth_against_itself")
    return missed


def connect():
    return duckdb.connect(config={"threads": 1})
