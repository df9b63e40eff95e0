"""Correctness checks, run once per run outside the timed phases.

write path: every emitted route reached a non-empty silver table, and the
        donations (last writer wins) and list_registrations (first writer
        wins) tables equal the generator's expected keyed state by row
        count and by an order-insensitive value hash.
read path: DuckDB, reading the same silver and gold parquet files, computes
        /stats, the top-30 donors and a seeded sample of the point lookups
        the closed loop served; each must equal what the route returned.
curate: each registry query equals its ``plans.oracles.ORACLES`` twin run
        by DuckDB over the same tables, compared as tools/parity_check.py
        does (row count, columns, dtype kinds, order-insensitive values).
"""

from __future__ import annotations

import glob
import os
import random
import time

import lakegen
from django_indexer_spark.sources import silver
from django_indexer_spark.streaming import pipeline

LOOKUP_SAMPLE = 24


def check(name: str, ok: bool, detail: str = "") -> dict:
    return {"name": name, "ok": bool(ok), "detail": "" if ok else detail}


def keyed_state(silver_dir: str, lake: lakegen.Lake) -> list[dict]:
    """Write-path checks. DuckDB reads the tables' current parquet files,
    so the check does not go through the engine's own read path."""
    import duckdb

    empty = [
        name
        for name in pipeline.ENTITY_PIPELINES
        if not (silver.read_manifest(f"{silver_dir}/{name}") or {}).get("buckets")
    ]
    out = [check("every_route_nonempty", not empty, f"empty: {empty}")]
    con = duckdb.connect()
    try:
        _silver_view(con, silver_dir, "donations")
        got = con.execute(
            "SELECT dedup_key, donor_id, recipient_id, total_amount, pot_id FROM donations"
        ).fetchall()
        out += _keyed("donations", got, lake.expected_donations())
        _silver_view(con, silver_dir, "list_registrations")
        got = con.execute(
            "SELECT list_id, registrant_id, id, status FROM list_registrations"
        ).fetchall()
        out += _keyed("registrations", got, lake.expected_registrations())
    finally:
        con.close()
    return out


def _keyed(name: str, got: list[tuple], want: list[tuple]) -> list[dict]:
    return [
        check(f"{name}_rows", len(got) == len(want), f"{len(got)} != {len(want)}"),
        check(f"{name}_hash", lakegen.value_hash(got) == lakegen.value_hash(want)),
    ]


# -- serve -----------------------------------------------------------------


def _silver_view(con, silver_dir: str, name: str) -> None:
    table_dir = f"{silver_dir}/{name}"
    files = []
    for p in silver.current_paths(table_dir, silver.read_manifest(table_dir)):
        files += glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    con.execute(
        f"CREATE VIEW {name} AS SELECT * FROM read_parquet({files!r}, "
        "hive_partitioning = true, union_by_name = true)"
    )


def _num(v) -> float | None:
    return None if v is None else float(v)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def serve(silver_dir: str, gold_dir: str, done: list[tuple], seed: int) -> list[dict]:
    import duckdb

    con = duckdb.connect()
    try:
        for name in ("donations", "pot_payouts"):
            _silver_view(con, silver_dir, name)
        for name in ("accounts", "donations"):
            con.execute(
                f"CREATE VIEW gold_{name} AS SELECT * FROM read_parquet("
                f"'{gold_dir}/{name}/**/*.parquet', hive_partitioning = true)"
            )
        return _serve_checks(con, done, seed)
    finally:
        con.close()


def _serve_checks(con, done: list[tuple], seed: int) -> list[dict]:
    out = []
    by_route: dict[str, list[tuple]] = {}
    for d in done:
        if d[5] is None:
            by_route.setdefault(d[1], []).append(d)

    if "stats" in by_route:
        row = by_route["stats"][0][4][0]
        want = con.execute(
            """SELECT (SELECT sum(total_amount_usd) FROM gold_donations),
                      (SELECT count(*) FROM gold_donations),
                      (SELECT count(DISTINCT donor_id) FROM gold_donations),
                      (SELECT count(DISTINCT recipient_id) FROM gold_donations),
                      (SELECT sum(CAST(amount AS DECIMAL(38,0)) / 1000000)
                         FROM pot_payouts WHERE paid_at IS NOT NULL)"""
        ).fetchone()
        got = (
            row["total_donations_usd"],
            row["total_donations_count"],
            row["unique_donors"],
            row["unique_recipients"],
            row["total_payouts_usd"],
        )
        ok = all(_close(a, b) for a, b in zip(got, want))
        out.append(check("stats", ok, f"route {got} != duckdb {want}"))

    if "donors" in by_route:
        got = [(r["id"], _num(r["total_donations_out_usd"])) for r in by_route["donors"][0][4]]
        want = [
            (i, _num(v))
            for i, v in con.execute(
                """SELECT id, total_donations_out_usd FROM gold_accounts
                   WHERE id IN (SELECT donor_id FROM donations)
                   ORDER BY total_donations_out_usd DESC, id ASC LIMIT 30"""
            ).fetchall()
        ]
        ok = len(got) == len(want) and all(
            a[0] == b[0] and _close(a[1], b[1]) for a, b in zip(got, want)
        )
        out.append(check("donors_top30", ok, f"route {got[:3]} != duckdb {want[:3]}"))

    lookups = [
        d
        for r in ("account_detail", "account_donations_received", "account_donations_sent",
                  "pot_donations")
        for d in by_route.get(r, [])
    ]
    sample = random.Random(seed).sample(lookups, min(LOOKUP_SAMPLE, len(lookups)))
    bad = []
    for _, route, key, _, rows, _ in sample:
        if route == "account_detail":
            got = [(r["id"], _num(r["total_donations_in_usd"]), _num(r["total_donations_out_usd"]),
                    r["donors_count"]) for r in rows]
            want = [(a, _num(b), _num(c), d) for a, b, c, d in con.execute(
                """SELECT id, total_donations_in_usd, total_donations_out_usd, donors_count
                   FROM gold_accounts WHERE id = ?""", [key]).fetchall()]
        else:
            col = {"account_donations_received": "recipient_id",
                   "account_donations_sent": "donor_id",
                   "pot_donations": "pot_id"}[route]
            got = [(r["dedup_key"], r["total_amount"]) for r in rows]
            want = con.execute(
                f"""SELECT dedup_key, total_amount FROM gold_donations WHERE {col} = ?
                    ORDER BY dedup_key LIMIT 30""", [key]).fetchall()
        if [tuple(g) for g in got] != [tuple(w) for w in want]:
            bad.append((route, key))
    out.append(check("point_lookups", not bad and bool(sample), f"mismatched: {bad[:5]}"))
    return out


# -- curate ----------------------------------------------------------------


def collect_queries(spark, data_dir: str, names: list[str]) -> tuple[dict, float]:
    """Run each query once and collect its result for ``curate``. This is
    the curate workload's priming pass; returns (results, its Spark time)."""
    from django_indexer_spark.plans.fixture_queries import QUERIES

    t0 = time.perf_counter()
    results = {name: QUERIES[name](spark, data_dir).toPandas() for name in names}
    return results, time.perf_counter() - t0


def curate(data_dir: str, results: dict) -> list[dict]:
    import duckdb

    from django_indexer_spark.plans.oracles import ORACLES
    from tools.parity_check import pandas_canon

    con = duckdb.connect()
    out = []
    try:
        for t in ("documents", "embeddings", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name, got in results.items():
            want = con.execute(ORACLES[name]).df()
            if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                detail = f"rows {len(got)}/{len(want)}, cols {sorted(got.columns)}"
                out.append(check(f"oracle_{name}", False, detail))
                continue
            g, w = pandas_canon(got), pandas_canon(want)
            kinds_ok = not len(got) or g[1] == w[1]
            detail = "values differ" if kinds_ok else f"dtype kinds {g[1]} vs {w[1]}"
            out.append(check(f"oracle_{name}", kinds_ok and g[2] == w[2], detail))
    finally:
        con.close()
    return out
