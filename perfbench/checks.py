"""Correctness gate: every output the benchmark times is checked against an
independent DuckDB computation.

* ETL marts are recomputed from the generated raw documents alone (flatten,
  first-writer-wins on the ODS conflict key, zero-duration imputation,
  the three marts) and compared with the warehouse's mart files.
* Registry queries are compared with their ``oracle_sql()`` over the same
  generated tables, by tests/oracle_utils.py's ``assert_matches_oracle``.

Comparison is order-insensitive and exact: floats carry a type tag, so
``52`` and ``52.0`` differ.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

# The order-insensitive, type-tagged row comparison and the DuckDB runner of
# the test suite's oracle checks, so both gates compare the same way.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from oracle_utils import assert_matches_oracle, canon_rows  # noqa: E402,F401

ROYALTY_RATE = 0.003  # reference scripts/ddl_dm.sql:17


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows, else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = canon_rows(got), canon_rows(want)
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    return f"{len(bad)} rows differ, first {bad[0]}" if bad else None


# ---------------------------------------------------------------------------
# ETL marts, recomputed from the raw documents
# ---------------------------------------------------------------------------

_EXPECTED_SQL = f"""
WITH ods AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY song_rank, source_date, country
                                     ORDER BY song_name, artist_name) AS rn
        FROM raw_tracks) WHERE rn = 1),
mean AS (
    SELECT source_date, floor(avg(duration_sec) + 0.5)::INTEGER AS m
    FROM ods WHERE duration_sec <> 0 GROUP BY source_date),
fact AS (
    SELECT o.source_date AS date, o.country, o.artist_name, o.listeners_count,
           CASE WHEN o.duration_sec = 0 THEN mean.m ELSE o.duration_sec END AS dur
    FROM ods o LEFT JOIN mean USING (source_date))
SELECT 'avg_song_duration_by_country' AS mart, CAST(date AS VARCHAR) AS date, country AS name,
       CAST(sum(CAST(dur AS BIGINT)) AS DOUBLE) / CAST(count(dur) AS DOUBLE) AS v
FROM fact GROUP BY date, country
UNION ALL
SELECT 'artist_appearances_by_date', CAST(date AS VARCHAR), artist_name, CAST(count(*) AS DOUBLE)
FROM fact GROUP BY date, artist_name
UNION ALL
SELECT 'expected_artist_royalties_by_date', CAST(date AS VARCHAR), artist_name,
       floor(CAST(sum(listeners_count) AS BIGINT) * CAST({ROYALTY_RATE} AS DOUBLE) * 100.0::DOUBLE + 0.5)
       / 100.0::DOUBLE
FROM fact GROUP BY date, artist_name
"""

_MART_VALUE = {
    "avg_song_duration_by_country": ("country_name", "avg_duration_sec"),
    "artist_appearances_by_date": ("artist_name", "CAST(cnt_appearance AS DOUBLE)"),
    "expected_artist_royalties_by_date": ("artist_name", "royalties"),
}


def raw_tracks(feed) -> pd.DataFrame:
    """Flatten generated documents the way the ODS layer must."""

    def as_int(s):
        try:
            return int(s)
        except (TypeError, ValueError):
            return None

    rows = [
        (t["name"], t["artist"]["name"], as_int(t["duration"]), as_int(t["listeners"]),
         as_int(t["@attr"]["rank"]), day, shard)
        for day, docs in feed
        for shard, doc in docs.items()
        for t in doc["tracks"]["track"]
    ]
    df = pd.DataFrame(rows, columns=["song_name", "artist_name", "duration_sec", "listeners_count",
                                     "song_rank", "source_date", "country"])
    df["source_date"] = pd.to_datetime(df["source_date"]).dt.date
    return df


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def warehouse_counts(root: str) -> dict[str, int]:
    """Row counts of the ODS and fact tables, read straight from the files."""
    con = duckdb.connect()
    try:
        out = {}
        for name, rel in (("ods", "ods_daily_data"), ("fact", os.path.join("dds", "fact_daily_top_100"))):
            out[name] = con.execute(
                f"SELECT count(*) FROM read_parquet('{_parquet_glob(os.path.join(root, rel))}')"
            ).fetchone()[0]
        return out
    finally:
        con.close()


def check_marts(feed, root: str) -> list[str]:
    """Compare the warehouse's marts and row counts with the recomputation.
    Returns the list of mismatches (empty when correct)."""
    con = duckdb.connect()
    try:
        con.register("raw_tracks", raw_tracks(feed))
        want = con.execute(_EXPECTED_SQL).fetchdf()
        n_ods = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT song_rank, source_date, country FROM raw_tracks)"
        ).fetchone()[0]
        got_parts = []
        for mart, (name_col, value_expr) in _MART_VALUE.items():
            path = _parquet_glob(os.path.join(root, "dm", mart))
            got_parts.append(con.execute(
                f"SELECT '{mart}' AS mart, CAST(date AS VARCHAR) AS date, {name_col} AS name, {value_expr} AS v "
                f"FROM read_parquet('{path}', hive_partitioning = true)"
            ).fetchdf())
    finally:
        con.close()
    problems = []
    diff = same_rows(pd.concat(got_parts, ignore_index=True), want)
    if diff:
        problems.append(f"marts: {diff}")
    counts = warehouse_counts(root)
    for table, n in counts.items():
        if n != n_ods:
            problems.append(f"{table}: {n} rows, expected {n_ods}")
    return problems
