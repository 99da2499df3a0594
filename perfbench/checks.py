"""Inline correctness checks, run outside every timed region.

- dashboard answers vs DuckDB running the engine's own oracle SQL
  (globalweather_etl_spark.oracles dashboard_q1..q5) over the same
  generated events;
- torn reads: sum of Q4 DAYS_COUNT over a snapshot pin must equal the
  pinned staging table's row count;
- curation: every planted exact duplicate and contaminated document
  must be gone from the curated output.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pyarrow as pa

from globalweather_etl_spark.oracles import PIPELINE_ORACLES, WEATHER_PROLOGUE
from globalweather_etl_spark.sources.weather_from_events import WEATHER_STAGING_SQL

KINDS = ("q1", "q2", "q3", "q4", "q5")
TOL = 1e-6


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.date()
    return v


def _sort_key(row):
    return tuple(
        (0, round(v, 4)) if isinstance(v, float) else (1, str(v)) for v in row
    )


def rows_equal(got, want) -> bool:
    """Order-insensitive row comparison; floats within TOL (relative
    above 1). Rank ties (Q3/Q4 order by an aggregate) may legally come
    back in either order, so both sides are sorted first."""
    a = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    b = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    return False
                if abs(float(x) - float(y)) > TOL * max(1.0, abs(float(y))):
                    return False
            elif x != y:
                return False
    return True


def _final_select(kind: str) -> str:
    sql = PIPELINE_ORACLES[f"dashboard_{kind}"]
    if not sql.startswith(WEATHER_PROLOGUE):
        raise RuntimeError(f"dashboard_{kind} oracle no longer starts with the warehouse prologue")
    return sql[len(WEATHER_PROLOGUE):]


class Oracle:
    """DuckDB star built once from an events table; answers any
    dashboard request (kind, filter) from it."""

    def __init__(self, events: pa.Table):
        self.con = duckdb.connect()
        self.con.register("events", events)
        # derive staging once, then build the star tables from it
        self.con.execute(f"CREATE TABLE staging_t AS {WEATHER_STAGING_SQL}")
        head = f"WITH staging AS ({WEATHER_STAGING_SQL}),"
        if not WEATHER_PROLOGUE.lstrip().startswith(head):
            raise RuntimeError("oracle prologue no longer starts with the staging CTE")
        prologue = WEATHER_PROLOGUE.replace(head, "WITH staging AS (SELECT * FROM staging_t),", 1)
        for name in ("fact", "dim_date", "dim_location"):
            self.con.execute(f"CREATE TABLE {name}_all AS {prologue} SELECT * FROM {name}")
        self._cache: dict = {}

    def close(self) -> None:
        self.con.close()

    def expected(self, kind: str, filt=None) -> list[tuple]:
        key = (kind, filt)
        if key not in self._cache:
            if filt is None:
                where = ""
            elif filt[0] == "days":
                where = (
                    f" WHERE DATE_KEY BETWEEN DATE '{filt[1]}' AND DATE '{filt[2]}'"
                )
            else:
                where = (
                    " WHERE LOCATION_KEY IN (SELECT LOCATION_KEY FROM "
                    f"dim_location_all WHERE CITY_NAME = '{filt[1]}')"
                )
            sql = (
                f"WITH fact AS (SELECT * FROM fact_all{where}), "
                "dim_date AS (SELECT * FROM dim_date_all), "
                "dim_location AS (SELECT * FROM dim_location_all) "
                + _final_select(kind)
            )
            self._cache[key] = self.con.execute(sql).fetchall()
        return self._cache[key]

    def fact_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM fact_all").fetchone()[0]


def torn_read_ok(q4_rows, staging_rows: int) -> bool:
    """A consistent pin's fact has exactly one row per staging row (one
    location per postal code), so Q4's band counts sum to it."""
    return sum(int(r[1]) for r in q4_rows) == int(staging_rows)


def curate_violations(kept_ids, corpus) -> list[int]:
    """Planted exact duplicates / contaminated docs still present."""
    kept = set(int(i) for i in kept_ids)
    return sorted(kept & (set(corpus.exact_dups) | set(corpus.contaminated)))
