"""The indexer's phases as the benchmark drives them: streamed ingest,
token pricing, the gold refresh (beat job) and closed-loop serving.

Everything here calls the engine's public functions; the benchmark adds
only the glue a deployment adds (table paths, the silver→domain column
adapters and the request mix).
"""

from __future__ import annotations

import heapq
import os
import random
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from django_indexer_spark.operators.sorts import DEFAULT_PAGE_SIZE, paginate
from django_indexer_spark.plans import domain, endpoints
from django_indexer_spark.sources import silver, storage
from django_indexer_spark.streaming import pipeline

# the price merge publishes under this batch id so the stream's own batch
# ids (0, 1, ...) never collide with its version dirs
PRICE_BATCH = 1_000_000
# version of fetched token prices: above every bronze skeleton
PRICE_VERSION = 10**18


def price_tokens(spark: SparkSession, silver_dir: str) -> None:
    """Give the streamed token price rows a price, as the out-of-engine
    Coingecko fetch does before streaming.enrich merges it: a
    deterministic price per (token, date) at a version above every bronze
    skeleton, merged through ``silver.merge_batch``."""
    _, key, keep = pipeline.ENTITY_PIPELINES["token_prices"]
    skeletons = _silver(spark, silver_dir, "token_prices")
    # detach from the files the merge is about to replace
    rows = spark.createDataFrame(skeletons.collect(), skeletons.schema)
    priced = rows.withColumns(
        {
            "price_usd": F.lit(1.0)
            + F.pmod(F.xxhash64("token_id", "date_key"), F.lit(400)) / 100.0,
            "version": F.lit(PRICE_VERSION).cast("long"),
        }
    )
    silver.merge_batch(
        spark, f"{silver_dir}/token_prices", priced, key, "version", keep=keep,
        batch_id=PRICE_BATCH,
    )


def drain(spark: SparkSession, lake_dir: str, silver_dir: str, ckpt_dir: str, files_per_batch: int):
    """Drain the lake with the pipeline's stream. Returns (wall seconds,
    per-batch progress reports)."""
    t0 = time.perf_counter()
    q = pipeline.stream_ingest(
        spark,
        lake_dir,
        silver_dir,
        ckpt_dir,
        available_now=True,
        max_files_per_trigger=files_per_batch,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return wall, [p for p in q.recentProgress if p["numInputRows"] > 0]


# -- refresh (the beat job) ------------------------------------------------


def _silver(spark: SparkSession, silver_dir: str, name: str) -> DataFrame:
    df = silver.read_table(spark, f"{silver_dir}/{name}")
    if df is None:
        raise RuntimeError(f"silver table {name} is empty")
    return df


def _payouts(spark: SparkSession, silver_dir: str) -> DataFrame:
    """Silver pot payouts with the USD column the domain plans expect
    (payouts are in NEAR yocto-units; a fixed rate stands in for pricing)."""
    return _silver(spark, silver_dir, "pot_payouts").withColumn(
        "amount_paid_usd", F.col("amount").cast("decimal(38,0)") / F.lit(10**6)
    )


def refresh(spark: SparkSession, silver_dir: str, gold_dir: str, tracer) -> None:
    """price_donations → account_stats → pot_stats, each computed and
    written as one gold table inside its own span."""
    donations = _silver(spark, silver_dir, "donations").withColumn("id", F.col("dedup_key"))
    prices = _silver(spark, silver_dir, "token_prices").select(
        "token_id",
        (F.to_timestamp("date_key", "dd-MM-yyyy") + F.expr("INTERVAL 12 HOURS")).alias(
            "timestamp"
        ),
        "price_usd",
    )
    tokens = _silver(spark, silver_dir, "tokens").select(
        F.col("id").alias("account_id"), "decimals"
    )
    with tracer.span("plans.domain.price_donations"):
        priced = domain.price_donations(donations, prices, tokens)
        priced = priced.select(
            *[c for c in donations.columns if c != "total_amount_usd"],
            F.col("total_amount_usd_computed").alias("total_amount_usd"),
        )
        storage.write_clustered(priced, f"{gold_dir}/donations", ["donated_date"], ["recipient_id"])
    gold_don = spark.read.parquet(f"{gold_dir}/donations")
    payouts = _payouts(spark, silver_dir)
    accounts = _silver(spark, silver_dir, "accounts").select(
        "id",
        F.lit(1).alias("chain_id"),
        F.lit(None).cast("string").alias("near_social_profile_data"),
    )
    with tracer.span("plans.domain.account_stats"):
        storage.write_clustered(
            domain.account_stats(accounts, gold_don, payouts),
            f"{gold_dir}/accounts", [], ["id"], files_per_partition=4,
        )
    pots = _silver(spark, silver_dir, "pots").withColumnRenamed("id", "account_id")
    with tracer.span("plans.domain.pot_stats"):
        storage.write_clustered(
            domain.pot_stats(pots, gold_don), f"{gold_dir}/pots", [], ["account_id"],
            files_per_partition=2,
        )


# -- serving ---------------------------------------------------------------

LIGHT_ROUTES = (
    "account_detail",
    "account_donations_received",
    "account_donations_sent",
    "pot_donations",
    "accounts_list",
)
HEAVY_ROUTES = ("donors", "stats", "pot_sponsors")
ROUTES = LIGHT_ROUTES + HEAVY_ROUTES


class Tables:
    """The frames a server holds between refreshes: donation lists read
    the gold copy (clustered by recipient), the donor aggregates read
    silver donations as merged."""

    def __init__(self, spark: SparkSession, silver_dir: str, gold_dir: str):
        self.donations = _silver(spark, silver_dir, "donations")
        self.payouts = _payouts(spark, silver_dir)
        self.gold_donations = spark.read.parquet(f"{gold_dir}/donations")
        self.accounts = spark.read.parquet(f"{gold_dir}/accounts")


def _page(df: DataFrame, *keys: str) -> DataFrame:
    return paginate(df, [F.asc(k) for k in keys], page=1, page_size=DEFAULT_PAGE_SIZE)


def route_frame(t: Tables, route: str, key: str | int | None) -> DataFrame:
    """The DataFrame one request collects (first page of 30)."""
    if route == "account_detail":
        return endpoints.account_detail(t.accounts, key)
    if route == "account_donations_received":
        return _page(endpoints.account_donations_received(t.gold_donations, key), "dedup_key")
    if route == "account_donations_sent":
        return _page(endpoints.account_donations_sent(t.gold_donations, key), "dedup_key")
    if route == "pot_donations":
        return _page(endpoints.pot_donations(t.gold_donations, key), "dedup_key")
    if route == "accounts_list":
        return endpoints.accounts_list(t.accounts, page=key, page_size=DEFAULT_PAGE_SIZE)
    if route == "donors":
        return endpoints.donors(t.accounts, t.donations, k=DEFAULT_PAGE_SIZE)
    if route == "stats":
        return endpoints.stats(t.gold_donations, t.payouts)
    if route == "pot_sponsors":
        return _page(endpoints.pot_sponsors(t.accounts, t.donations, key), "id")
    raise ValueError(route)


def _stride_picker(keys: list, zipf_s: float):
    """Keys at Zipf(``zipf_s``) frequencies by stride scheduling: rank r
    has weight 1/r^s and is picked whenever its pass value is the lowest,
    so every prefix of the picks holds each rank in its share and the
    repeat share of a prefix does not depend on the permutation."""
    heap = [(0.5 * (i + 1) ** zipf_s, i) for i in range(len(keys))]
    heapq.heapify(heap)

    def pick():
        pass_value, i = heapq.heappop(heap)
        heapq.heappush(heap, (pass_value + (i + 1) ** zipf_s, i))
        return keys[i]

    return pick


def request_mix(
    rng: random.Random,
    n: int,
    accounts: list[str],
    pots: list[str],
    weights: dict[str, float],
    zipf_s: float,
    n_pages: int,
) -> list[tuple[str, object]]:
    """``n`` (route, key) requests. Routes follow a smooth weighted
    round-robin over ``weights`` and keys a Zipf(``zipf_s``) stride
    schedule (``zipf_s`` 0: every key in turn), so every prefix of the
    list has the same route mix and the same key repeat share, and runs
    that stop at different points serve the same mix. The seed decides
    which key holds which rank."""

    def picker(keys: list):
        keys = list(keys)
        rng.shuffle(keys)
        return _stride_picker(keys, zipf_s)

    acct = picker(accounts)
    pot = picker(pots)
    page = picker(list(range(1, n_pages + 1)))
    total = sum(weights.values())
    credit = dict.fromkeys(weights, 0.0)
    out = []
    for _ in range(n):
        for r in credit:
            credit[r] += weights[r]
        r = max(credit, key=credit.get)
        credit[r] -= total
        if r in ("account_detail", "account_donations_received", "account_donations_sent"):
            key = acct()
        elif r in ("pot_donations", "pot_sponsors"):
            key = pot()
        elif r == "accounts_list":
            key = page()
        else:
            key = None
        out.append((r, key))
    return out


def repeat_share(requests: list[tuple[str, object]]) -> float:
    seen: set = set()
    rep = 0
    for r in requests:
        if r in seen:
            rep += 1
        seen.add(r)
    return rep / len(requests) if requests else 0.0


def serve_loop(t: Tables, requests: list[tuple[str, object]], clients: int, seconds: float, tracer):
    """Closed loop: each client sends its next request only after the
    previous one returned; requests are taken in order from ``requests``
    until ``seconds`` have passed or the list is used up. Returns
    (wall seconds, sorted [(index, route, key, latency_s, rows, error)])."""
    lock = threading.Lock()
    nxt = [0]
    done: list[tuple] = []
    deadline = time.perf_counter() + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = nxt[0]
                if i >= len(requests):
                    return
                nxt[0] += 1
            route, key = requests[i]
            t0 = time.perf_counter()
            rows = err = None
            try:
                with tracer.span(f"plans.endpoints.{route}", trace=f"req{i}"):
                    rows = route_frame(t, route, key).collect()
            except Exception as e:  # a failed request is counted, not fatal
                err = f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
            with lock:
                done.append((i, route, key, lat, rows, err))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, name=f"client{c}") for c in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return time.perf_counter() - t0, sorted(done, key=lambda d: d[0])


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(total bytes, file count) of files under ``path`` ending in ``suffix``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
