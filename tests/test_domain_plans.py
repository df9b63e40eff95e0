"""Domain plan tests on tiny ENTITY_SCHEMAS-shaped frames (FIXTURES.md §B):
the reference's quirky semantics — falsy-zero skip (A7), digit guard (A6),
paid_at null filter (F3), nearest-in-±24h pricing (J6)."""

from __future__ import annotations

import datetime as dt
import decimal

from pyspark.sql import functions as F

from django_indexer_spark.plans import domain

D = decimal.Decimal
TS = dt.datetime


def donations_df(spark):
    cols = (
        "id long, donor_id string, recipient_id string, pot_id string, token_id string,"
        " matching_pool boolean, total_amount string, total_amount_usd decimal(20,2),"
        " donated_at timestamp"
    )
    return spark.createDataFrame(
        [
            (1, "a", "x", None, "near", False, "100", D("10.00"), TS(2024, 1, 1)),
            (2, "a", "y", "pot1", "near", True, "200", D("20.00"), TS(2024, 1, 2)),
            (3, "b", "x", "pot1", "near", False, "not_a_number", D("0.00"), TS(2024, 1, 3)),
            (4, "b", "x", "pot1", "near", False, "50", None, TS(2024, 1, 4)),
        ],
        cols,
    )


def payouts_df(spark):
    cols = "id long, pot_id string, recipient_id string, amount string, amount_paid_usd decimal(20,2), paid_at timestamp"
    return spark.createDataFrame(
        [
            (1, "pot1", "x", "70", D("7.00"), TS(2024, 2, 1)),
            (2, "pot1", "y", "30", D("3.00"), None),  # scheduled, not paid (base/api.py:68)
        ],
        cols,
    )


def accounts_df(spark):
    cols = (
        "id string, chain_id string, total_donations_in_usd decimal(20,2),"
        " total_donations_out_usd decimal(20,2), total_matching_pool_allocations_usd decimal(20,2),"
        " donors_count int, near_social_profile_data string"
    )
    return spark.createDataFrame(
        [("a", "near", None, None, None, None, None),
         ("b", "near", None, None, None, None, None),
         ("x", "near", None, None, None, None, None),
         ("y", "near", None, None, None, None, None),
         ("idle", "near", None, None, None, None, None)],
        cols,
    )


def test_stats_plan(spark):
    out = domain.stats(donations_df(spark), payouts_df(spark)).collect()[0]
    assert out["total_donations_usd"] == D("30.00")  # sums skip nulls (0.00 counts)
    assert out["total_donations_count"] == 4
    assert out["unique_donors"] == 2
    assert out["unique_recipients"] == 2
    assert out["total_payouts_usd"] == D("7.00")  # paid_at IS NOT NULL only


def test_account_stats_falsy_zero_skip(spark):
    out = {
        r["id"]: r.asDict()
        for r in domain.account_stats(
            accounts_df(spark), donations_df(spark), payouts_df(spark)
        ).collect()
    }
    # recipient x: donations 1 (10.00) + 3 (0.00 — SKIPPED as falsy, A7) + 4 (null)
    assert out["x"]["total_donations_in_usd"] == D("10.00")
    assert out["x"]["donors_count"] == 2  # donors a and b
    assert out["a"]["total_donations_out_usd"] == D("30.00")
    assert out["x"]["total_matching_pool_allocations_usd"] == D("7.00")
    assert out["idle"]["total_donations_in_usd"] == D("0.00")  # fillna


def test_pot_stats_digit_guard_and_pivot(spark):
    pots = spark.createDataFrame([("pot1",)], "account_id string")
    out = domain.pot_stats(pots, donations_df(spark)).collect()[0]
    assert out["total_matching_pool"] == D("200")
    assert out["matching_pool_donations_count"] == 1
    # public: ids 3 (non-digit amount → skipped, A6) and 4 ("50")
    assert out["total_public_donations"] == D("50")
    assert out["public_donations_count"] == 2  # count is NOT digit-guarded (tasks.py)
    assert out["total_public_donations_usd"] is None  # 0.00 skipped + null skipped


def test_price_donations_asof(spark):
    donations = donations_df(spark)
    prices = spark.createDataFrame(
        [
            ("near", TS(2024, 1, 1, 5), D("2.00")),   # 5h from donation 1 → in window
            ("near", TS(2024, 1, 1, 20), D("3.00")),  # 20h → farther
            ("near", TS(2023, 12, 25), D("9.00")),    # way out of ±24h
        ],
        "token_id string, timestamp timestamp, price_usd decimal(20,2)",
    )
    tokens = spark.createDataFrame(
        [("near", 2)], "account_id string, decimals int"
    )  # amount 100 → 1.00 units
    out = {r["id"]: r.asDict() for r in domain.price_donations(donations, prices, tokens).collect()}
    assert out[1]["r_price_usd"] == D("2.00")  # nearest within ±24h
    # donation 1: 100 / 10^2 = 1.0 units * 2.00 = 2.00 USD
    assert out[1]["total_amount_usd_computed"] == D("2.00")
    # donation 4 (2024-01-04): nearest price is 2024-01-01 20:00 → out of ±24h
    assert out[4]["r_price_usd"] is None


def test_latest_price_per_token(spark):
    prices = spark.createDataFrame(
        [("t1", TS(2024, 1, 1), D("1.00")), ("t1", TS(2024, 1, 3), D("5.00")),
         ("t2", TS(2024, 1, 2), D("2.00"))],
        "token_id string, timestamp timestamp, price_usd decimal(20,2)",
    )
    out = {r["token_id"]: r["price_usd"] for r in domain.latest_price_per_token(prices).collect()}
    assert out == {"t1": D("5.00"), "t2": D("2.00")}


def test_active_pots_window(spark):
    pots = spark.createDataFrame(
        [("live", TS(2024, 1, 1), TS(2024, 3, 1)), ("done", TS(2023, 1, 1), TS(2023, 2, 1))],
        "account_id string, matching_round_start timestamp, matching_round_end timestamp",
    )
    got = domain.active_pots(pots, F.lit("2024-02-01").cast("timestamp")).collect()
    assert [r["account_id"] for r in got] == ["live"]


def test_donors_leaderboard_semi_join_and_order(spark):
    accounts = spark.createDataFrame(
        [("a", D("30.00")), ("b", D("99.00")), ("idle", D("0.00"))],
        "id string, total_donations_out_usd decimal(20,2)",
    )
    donations = donations_df(spark)
    got = [r["id"] for r in domain.donors_leaderboard(accounts, donations).collect()]
    assert got == ["b", "a"]  # idle has no donations → semi-join drops it

    # tied totals break by id ascending, with and without k
    tied = spark.createDataFrame(
        [("d", D("50.00")), ("c", D("50.00")), ("b", D("99.00")), ("a", D("50.00"))],
        "id string, total_donations_out_usd decimal(20,2)",
    )
    ties = donations
    for donor in ("c", "d"):
        ties = ties.unionByName(
            donations.filter(F.col("id") == 1).withColumn("donor_id", F.lit(donor))
        )
    got = [r["id"] for r in domain.donors_leaderboard(tied, ties).collect()]
    assert got == ["b", "a", "c", "d"]
    got = [r["id"] for r in domain.donors_leaderboard(tied, ties, k=3).collect()]
    assert got == ["b", "a", "c"]


def test_current_applications_latest_review_wins(spark):
    from django_indexer_spark.plans.domain import current_applications

    apps = spark.createDataFrame(
        [
            ("pot.near", "a.near", "Pending", "2024-01-01 00:00:00"),
            ("pot.near", "b.near", "Pending", "2024-01-01 00:00:00"),
        ],
        "pot_id string, applicant_id string, status string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    reviews = spark.createDataFrame(
        [
            ("pot.near", "a.near", "rev.near", "Rejected", 100, "2024-01-02 00:00:00", 1),
            ("pot.near", "a.near", "rev.near", "Approved", 200, "2024-01-03 00:00:00", 2),
        ],
        "pot_id string, applicant_id string, reviewer_id string, status string,"
        " reviewed_ms long, reviewed_at string, version long",
    ).withColumn("reviewed_at", F.col("reviewed_at").cast("timestamp"))
    got = {r["applicant_id"]: r.asDict() for r in current_applications(apps, reviews).collect()}
    assert got["a.near"]["current_status"] == "Approved"
    assert got["a.near"]["updated_at"].isoformat().startswith("2024-01-03")
    assert got["b.near"]["current_status"] == "Pending"  # no review → original


def test_current_registrations_update_overrides(spark):
    from django_indexer_spark.plans.domain import current_registrations

    regs = spark.createDataFrame(
        [
            (7, 1, "r.near", "Pending", None, "2024-01-01 00:00:00"),
            (8, 1, "s.near", "Approved", "n1", "2024-01-01 00:00:00"),
        ],
        "id long, list_id long, registrant_id string, status string,"
        " admin_notes string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    ups = spark.createDataFrame(
        [(7, "Approved", "looks good", "2024-01-05 00:00:00", 5)],
        "registration_id long, status string, admin_notes string, updated_at string, version long",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    got = {r["id"]: r.asDict() for r in current_registrations(regs, ups).collect()}
    assert got[7]["status"] == "Approved" and got[7]["admin_notes"] == "looks good"
    assert got[8]["status"] == "Approved" and got[8]["admin_notes"] == "n1"
