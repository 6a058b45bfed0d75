"""Query signatures for the benchmark and their DuckDB oracle check.

A signature is a plain dict (kind, metric, group_by, flt, start, end,
granularity, mode). ``build`` turns it into an engine query through the
public ``Database`` API; ``oracle_rows`` computes the expected rows with
``talna_spark.oracle`` in DuckDB over an ``events.parquet``; ``same``
compares the two.
"""

from __future__ import annotations

import math

from perfbench.gen import DAY_US, START_US

MIN_NS = 60 * 10**9
HOUR_NS = 60 * MIN_NS


def end_ns(days: int) -> int:
    return (START_US + days * DAY_US) * 1000


def dashboard_panels(days: int) -> list[dict]:
    """The fixed panel set: the q16 analog (avg by user over the newest
    slice, ``user:a OR user:b``) plus count/sum/min/max panels and one
    greedy panel. Far fewer than the 256-entry plan cache."""
    end = end_ns(days)
    newest = end - 12 * HOUR_NS
    return [
        dict(kind="avg", metric="app.purchase", group_by="user",
             flt="user:3 OR user:7", start=newest, end=None,
             granularity=HOUR_NS, mode="aligned"),
        dict(kind="count", metric="app.view", group_by="k", flt="*",
             start=end - 24 * HOUR_NS, end=None, granularity=HOUR_NS,
             mode="aligned"),
        dict(kind="sum", metric="app.purchase", group_by="k", flt="hi:yes",
             start=None, end=None, granularity=6 * HOUR_NS, mode="aligned"),
        dict(kind="min", metric="app.error", group_by="user",
             flt="k:[1,2,3]", start=end - 24 * HOUR_NS, end=None,
             granularity=30 * MIN_NS, mode="aligned"),
        dict(kind="max", metric="app.signup", group_by="k", flt="user:1*",
             start=None, end=None, granularity=HOUR_NS, mode="aligned"),
        dict(kind="avg", metric="app.view", group_by=("user", "k"),
             flt="!hi:yes AND (k:5 OR k:6)", start=newest, end=None,
             granularity=2 * HOUR_NS, mode="aligned"),
        dict(kind="sum", metric="app.error", group_by="k", flt="user:2*",
             start=newest, end=None, granularity=HOUR_NS, mode="greedy"),
    ]


def build(db, sig: dict):
    """The engine query for a signature, through the public API."""
    qb = getattr(db, sig["kind"])(sig["metric"], sig["group_by"])
    qb = qb.filter(sig["flt"]).granularity(sig["granularity"])
    if sig["start"] is not None:
        qb = qb.start(sig["start"])
    if sig["end"] is not None:
        qb = qb.end(sig["end"])
    if sig["mode"] == "greedy":
        qb = qb.mode("greedy")
    return qb


def rows_of(spark_rows) -> list[tuple]:
    return sorted(
        (r["grp"], int(r["start_ts"]), int(r["end_ts"]), float(r["value"]),
         int(r["len"]))
        for r in spark_rows
    )


def oracle_rows(con, events_dir: str, sig: dict) -> list[tuple]:
    """Expected rows from ``talna_spark.oracle`` in DuckDB, over the view
    ``events`` (which must read ``{events_dir}/events.parquet``)."""
    from talna_spark.oracle import events_query_sql, greedy_events_values_sql

    if sig["mode"] == "greedy":
        sql = greedy_events_values_sql(
            sig["kind"], sig["metric"], sig["group_by"], sig["flt"],
            sig["start"], sig["end"], sig["granularity"], sf_dir=events_dir,
        )
    else:
        sql = events_query_sql(
            sig["kind"], sig["metric"], sig["group_by"], sig["flt"],
            sig["start"], sig["end"], sig["granularity"], round_value=False,
        )
    return sorted(
        (str(g), int(s), int(e), float(v), int(n))
        for g, s, e, v, n in con.sql(sql).fetchall()
    )


def same(got: list[tuple], want: list[tuple]) -> bool:
    """Row-for-row equality; values agree to 6 decimals (the oracle's
    rounding contract) or to 1e-9 relative for large sums."""
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if a[0] != b[0] or a[1] != b[1] or a[2] != b[2] or a[4] != b[4]:
            return False
        if not math.isclose(a[3], b[3], rel_tol=1e-9, abs_tol=2e-6):
            return False
    return True
