"""Domain query plans — the reference's REST endpoints and beat jobs as
pure DataFrame functions over ENTITY_SCHEMAS-shaped frames (SURVEY.md §3).

Each function is the declarative twin of one reference code path (cited).
They run on any DataFrames with the right columns — unit tests feed tiny
literal frames (FIXTURES.md §B); production feeds the silver tables.

Every reference quirk that affects results is preserved and called out:
falsy-zero skipping (A7), isdigit guards (A6), paid_at IS NOT NULL (F3),
the ±24 h arbitrary-row price window pinned to nearest (J6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.amounts import guarded_sum, usd_sum
from ..operators.aggregates import conditional_count, conditional_sum
from ..operators.joins import as_of_nearest, semi
from ..operators.sorts import top_k
from ..operators.windows import top1_per_group

PRICE_WINDOW_S = 24 * 3600  # HISTORICAL_PRICE_QUERY_HOURS (base/settings.py:82)


def stats(donations: DataFrame, pot_payouts: DataFrame) -> DataFrame:
    """/api/v1/stats (base/api.py:60-89): five global aggregates.

    One pass over each fact table; the two frames are combined with a
    cross join of two 1-row aggregates (no shuffle of fact data beyond the
    partial-agg reduce).
    """
    d = donations.agg(
        F.sum("total_amount_usd").alias("total_donations_usd"),
        F.count(F.lit(1)).alias("total_donations_count"),
        F.countDistinct("donor_id").alias("unique_donors"),
        F.countDistinct("recipient_id").alias("unique_recipients"),
    )
    p = pot_payouts.filter(F.col("paid_at").isNotNull()).agg(
        F.sum("amount_paid_usd").alias("total_payouts_usd")
    )
    return d.crossJoin(p)


def donors_leaderboard(accounts: DataFrame, donations: DataFrame, k: int | None = None) -> DataFrame:
    """DonorsAPI (accounts/api.py:80-92): accounts with ≥1 donation,
    ordered by total donated USD desc (sort param accounts/api.py:85-88),
    ties by id (O2 total order) — the same order with or without ``k``."""
    donors = semi(accounts, donations, accounts["id"] == donations["donor_id"])
    order = [F.desc("total_donations_out_usd"), F.asc("id")]
    return top_k(donors, order, k) if k else donors.orderBy(*order)


def account_donations_received(donations: DataFrame, account_id: str) -> DataFrame:
    """AccountDonationsReceivedAPI (accounts/api.py:310)."""
    return donations.filter(F.col("recipient_id") == account_id)


def active_pots(pots: DataFrame, now: Column) -> DataFrame:
    """PotsAPI live filter (accounts/api.py:211-214): round in progress."""
    return pots.filter(
        (F.col("matching_round_start") <= now) & (F.col("matching_round_end") >= now)
    )


def account_stats(accounts: DataFrame, donations: DataFrame, pot_payouts: DataFrame) -> DataFrame:
    """update_account_statistics (tasks.py:275-327) — the reference loops
    one QuerySet per account; here: THREE grouped aggregates + broadcast
    joins back. Quirk parity: USD sums skip falsy zero (A7)."""
    received = donations.groupBy(F.col("recipient_id").alias("id")).agg(
        usd_sum("total_amount_usd", "total_donations_in_usd"),
        F.countDistinct("donor_id").alias("donors_count"),
    )
    sent = donations.groupBy(F.col("donor_id").alias("id")).agg(
        usd_sum("total_amount_usd", "total_donations_out_usd")
    )
    payouts = pot_payouts.filter(F.col("paid_at").isNotNull()).groupBy(
        F.col("recipient_id").alias("id")
    ).agg(usd_sum("amount_paid_usd", "total_matching_pool_allocations_usd"))
    base = accounts.select("id", "chain_id", "near_social_profile_data")
    out = base.join(received, "id", "left").join(sent, "id", "left").join(payouts, "id", "left")
    return out.fillna(
        {
            "total_donations_in_usd": 0,
            "total_donations_out_usd": 0,
            "total_matching_pool_allocations_usd": 0,
            "donors_count": 0,
        }
    )


def pot_stats(pots: DataFrame, donations: DataFrame) -> DataFrame:
    """update_pot_statistics (tasks.py:188-272) — per-pot matching-pool vs
    public split, in ONE pass (A5 conditional aggregation) instead of two
    filtered queries per pot. Quirk parity: amount sums are digit-guarded
    (A6, tasks.py:200-204), USD sums skip falsy zero (A7)."""
    mp = F.col("matching_pool")
    agg = donations.filter(F.col("pot_id").isNotNull()).groupBy(
        F.col("pot_id").alias("account_id")
    ).agg(
        guarded_sum_when(mp, "total_amount", "total_matching_pool"),
        usd_sum_when(mp, "total_amount_usd", "total_matching_pool_usd"),
        conditional_count(mp, "matching_pool_donations_count"),
        guarded_sum_when(~mp, "total_amount", "total_public_donations"),
        usd_sum_when(~mp, "total_amount_usd", "total_public_donations_usd"),
        conditional_count(~mp, "public_donations_count"),
    )
    keep = [c for c in pots.columns if c not in {
        "total_matching_pool", "total_matching_pool_usd", "matching_pool_donations_count",
        "total_public_donations", "total_public_donations_usd", "public_donations_count",
    }]
    return pots.select(*keep).join(agg, "account_id", "left")


def guarded_sum_when(flag: Column, col: str, alias: str) -> Column:
    from ..functions.amounts import guarded_amount

    return F.sum(F.when(flag, guarded_amount(col))).alias(alias)


def usd_sum_when(flag: Column, col: str, alias: str) -> Column:
    c = F.col(col)
    return F.sum(F.when(flag & c.isNotNull() & (c != 0), c)).alias(alias)


def price_donations(
    donations: DataFrame, token_prices: DataFrame, tokens: DataFrame
) -> DataFrame:
    """fetch_usd_prices (tasks.py:153-185) + Donation.fetch_usd_prices
    (donations/models.py:210-247): attach the nearest token price within
    ±24 h (J6), scale the u128 amount by token decimals (C6), multiply
    (C7). Rows with no in-window price keep NULL USD — the next run's F6
    selector re-picks them (the reference's repair loop)."""
    priced = as_of_nearest(
        donations,
        token_prices.select(F.col("token_id"), F.col("timestamp"), F.col("price_usd")),
        left_id=["id"],
        key="token_id",
        left_ts="donated_at",
        right_ts="timestamp",
        tolerance_s=PRICE_WINDOW_S,
    )
    withdec = priced.join(
        F.broadcast(tokens.select(F.col("account_id").alias("token_id"), "decimals")),
        "token_id",
        "left",
    )
    # digit-guarded cast (A6): ANSI mode would abort on malformed amounts;
    # the reference's int() throws inside a broad except → row skipped —
    # same net effect as a NULL here (picked up by the F6 repair selector)
    from ..functions.amounts import guarded_amount

    formatted = guarded_amount("total_amount") / F.pow(
        F.lit(10.0), F.col("decimals")
    ).cast("decimal(38,0)")
    return withdec.withColumn(
        "total_amount_usd_computed",
        F.round(formatted * F.col("r_price_usd"), 2).cast("decimal(20,2)"),
    )


def latest_price_per_token(token_prices: DataFrame) -> DataFrame:
    """Token.current_price (tokens/models.py:56-57) — W1 top-1 per group."""
    return top1_per_group(
        token_prices, ["token_id"], [F.desc("timestamp")]
    )


def current_applications(applications: DataFrame, reviews: DataFrame) -> DataFrame:
    """PotApplication with its current status: the reference mutates the
    application row per review (utils.py:585-588); event-sourced here —
    latest review per (pot, applicant) wins (W1), original status when no
    review exists. Review history stays queryable (the reference keeps it
    in PotApplicationReview, pots/models.py:461-510)."""
    latest = top1_per_group(
        reviews, ["pot_id", "applicant_id"], [F.desc("reviewed_ms"), F.desc("version")]
    ).select(
        "pot_id",
        "applicant_id",
        F.col("status").alias("review_status"),
        F.col("reviewed_at").alias("last_reviewed_at"),
    )
    return (
        applications.join(latest, ["pot_id", "applicant_id"], "left")
        .withColumn("current_status", F.coalesce("review_status", "status"))
        .withColumn("updated_at", F.coalesce("last_reviewed_at", "updated_at"))
        .drop("review_status")
    )


def current_registrations(registrations: DataFrame, updates: DataFrame) -> DataFrame:
    """ListRegistration with update_registration mutations applied
    (utils.py:449-471): latest update per registration id overrides
    status/admin_notes/updated_at; registration row is authoritative for
    everything else."""
    latest = top1_per_group(updates, ["registration_id"], [F.desc("version")]).select(
        F.col("registration_id").alias("id"),
        F.col("status").alias("u_status"),
        F.col("admin_notes").alias("u_admin_notes"),
        F.col("updated_at").alias("u_updated_at"),
    )
    out = registrations.join(latest, "id", "left")
    return (
        out.withColumn("status", F.coalesce("u_status", "status"))
        .withColumn("admin_notes", F.coalesce("u_admin_notes", "admin_notes"))
        .withColumn("updated_at", F.coalesce("u_updated_at", "updated_at"))
        .drop("u_status", "u_admin_notes", "u_updated_at")
    )


def current_blacklist(blacklist_actions: DataFrame) -> DataFrame:
    """Live blacklist membership from the action stream (utils.py:79-115
    insert/delete re-expressed event-sourced): latest action per
    (registry, account) wins; members are those whose latest action is
    'blacklist'."""
    latest = top1_per_group(
        blacklist_actions, ["registry_id", "account_id"], [F.desc("version")]
    )
    return latest.filter(F.col("action") == "blacklist").select(
        "registry_id", "account_id", "reason", F.col("action_at").alias("date_blacklisted")
    )


def current_role_members(seed: DataFrame, ops: DataFrame) -> DataFrame:
    """Live role membership (list/registry admins, factory deployers) from
    the immutable seed arrays + the admin_ops event stream: seed rows count
    as 'add' at their creation version; the latest op per
    (entity_type, entity_id, role, account_id) decides membership.
    Replaces the reference's in-place M2M mutations
    (utils.py:785-829) replay-safely."""
    seeded = seed.select(
        "entity_type", "entity_id", "role", "account_id", F.lit("add").alias("op"), "version"
    )
    all_ops = seeded.unionByName(
        ops.select("entity_type", "entity_id", "role", "account_id", "op", "version")
    )
    latest = top1_per_group(
        all_ops, ["entity_type", "entity_id", "role", "account_id"], [F.desc("version")]
    )
    return latest.filter(F.col("op") == "add").select(
        "entity_type", "entity_id", "role", "account_id"
    )


def current_lists(lists: DataFrame, updates: DataFrame) -> DataFrame:
    """List rows with admin_set_default_project_status updates applied
    (utils.py:598-629): latest update per list overrides the changed
    fields; NULL update fields mean 'keep' (the handler's conditional
    description/cover assignment)."""
    latest = top1_per_group(updates, ["list_id"], [F.desc("version")])
    u = latest.select(
        F.col("list_id").alias("id"),
        *[
            F.col(c).alias(f"__u_{c}")
            for c in [
                "name",
                "owner_id",
                "default_registration_status",
                "admin_only_registrations",
                "updated_at",
                "description",
                "cover_image_url",
            ]
        ],
    )
    out = lists.join(u, "id", "left")
    for c in [
        "name",
        "owner_id",
        "default_registration_status",
        "admin_only_registrations",
        "updated_at",
        "description",
        "cover_image_url",
    ]:
        out = out.withColumn(c, F.coalesce(f"__u_{c}", c)).drop(f"__u_{c}")
    return out
