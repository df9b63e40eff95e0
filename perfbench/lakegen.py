"""Seeded synthetic NEAR-lake backlog covering every ingest route.

Each block file is one StreamerMessage-shaped JSON line (the shape
``sources.lake.explode_receipts`` consumes). Every block carries donation
and list-registration receipts; the receipts of the rarer routes (pot and
list administration, deployments, EVENT_JSON logs) are spread round-robin
over the micro-batches, so each route reaches a non-empty silver table
while most micro-batches leave most entity merges empty, as a live stream
does.

A fixed share of donation and registration keys is emitted a second time
in a later block with changed values. Donations are last-writer-wins and
registrations first-writer-wins, so the generator also returns the keyed
state the merge must end in.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random

DONATE = "donate.potlock.near"
LISTS = "lists.potlock.near"
SOCIAL = "social.near"
FACTORY = "v1.potfactory.potlock.near"
REGISTRY = "v1.staging.nadabot.near"
BASE_MS = 1_700_000_000_000

# Routes emitted once per micro-batch they are assigned to (round-robin):
# together with donations and registrations they cover every entity in
# streaming.pipeline.ENTITY_PIPELINES.
RARE_ROUTES = (
    "create_list",
    "upvote",
    "apply",
    "app_review",
    "set_payouts",
    "transfer_payout",
    "challenge",
    "challenge_response",
    "update_registration",
    "social_set",
    "new_pot",
    "new_factory",
    "new_registry",
    "ev_provider",
    "ev_stamp",
    "ev_group",
    "ev_threshold",
    "ev_blacklist",
    "ev_pot_config",
    "list_update",
    "list_remove_admins",
    "registry_add_admins",
    "factory_config",
)


def _b64(obj) -> str:
    return base64.b64encode(json.dumps(obj).encode()).decode()


def value_hash(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class _Block:
    def __init__(self, height: int):
        self.height = height
        self.outcomes: list[dict] = []

    def receipt(
        self,
        receiver: str,
        signer: str,
        method: str,
        args=None,
        success=None,
        logs=(),
        predecessor: str = "relay.near",
    ) -> int:
        pos = len(self.outcomes)
        status = {"SuccessValue": _b64(success)} if success is not None else {"SuccessReceiptId": "x"}
        self.outcomes.append(
            {
                "receipt": {
                    "receipt_id": f"r{self.height}_{pos}",
                    "predecessor_id": predecessor,
                    "receiver_id": receiver,
                    "receipt": {
                        "Action": {
                            "signer_id": signer,
                            "actions": [
                                {"FunctionCall": {"method_name": method, "args": _b64(args or {})}}
                            ],
                        }
                    },
                },
                "execution_outcome": {"outcome": {"logs": list(logs), "status": status}},
            }
        )
        return (self.height << 32) + pos  # normalize.prepare's version

    def message(self) -> dict:
        return {
            "block": {
                "header": {"height": self.height, "timestamp": BASE_MS * 10**6 + self.height * 10**9}
            },
            "shards": [{"shard_id": 0, "receipt_execution_outcomes": self.outcomes}],
        }


def _event(name: str, data: dict) -> str:
    return "EVENT_JSON:" + json.dumps(
        {"standard": "potlock", "version": "1.0.0", "event": name, "data": [data]}
    )


class Lake:
    """The generated backlog plus the keyed state a correct merge yields."""

    def __init__(
        self,
        seed: int,
        n_batches: int,
        blocks_per_batch: int,
        donations_per_block: int,
        registrations_per_block: int,
        n_accounts: int,
        n_pots: int,
        replay_share: float,
        deploy_pots: bool = False,
    ):
        rng = random.Random(seed)
        self.accounts = [f"user{i:05d}.near" for i in range(n_accounts)]
        self.pots = [f"pot{i:03d}.v1.potfactory.potlock.near" for i in range(n_pots)]
        self.blocks: list[_Block] = []
        # expected silver state: key -> (version, value tuple)
        self.donations: dict[str, tuple[int, tuple]] = {}
        self.registrations: dict[tuple, tuple[int, tuple]] = {}

        n_blocks = n_batches * blocks_per_batch
        replays: dict[int, list] = {}  # block index -> deferred re-emissions
        next_don = next_reg = 0
        for bi in range(n_blocks):
            blk = _Block(1000 + bi)
            if deploy_pots and bi == 0:
                for pot in self.pots:
                    self._emit_pot(blk, rng, pot)
            for _ in range(donations_per_block):
                spec = self._donation_spec(rng, next_don)
                next_don += 1
                self._emit_donation(blk, spec)
                if rng.random() < replay_share:
                    later = min(n_blocks - 1, bi + rng.randint(1, 2 * blocks_per_batch))
                    spec = dict(spec, total_amount=str(rng.randint(1, 10**6) * 10**18))
                    replays.setdefault(later, []).append(("don", spec))
            for _ in range(registrations_per_block):
                spec = {
                    "id": next_reg,
                    "registrant_id": rng.choice(self.accounts),
                    "list_id": rng.randint(1, 20),
                    "status": "Approved",
                    "submitted_ms": BASE_MS + bi * 1000,
                    "updated_ms": BASE_MS + bi * 1000,
                    "registered_by": rng.choice(self.accounts),
                    "admin_notes": None,
                    "registrant_notes": "hi",
                }
                next_reg += 1
                self._emit_registration(blk, spec)
                if rng.random() < replay_share:
                    later = min(n_blocks - 1, bi + rng.randint(1, 2 * blocks_per_batch))
                    replays.setdefault(later, []).append(
                        ("reg", dict(spec, id=next_reg + 10**6, status="Rejected"))
                    )
            for kind, spec in replays.pop(bi, []):
                if kind == "don":
                    self._emit_donation(blk, spec)
                else:
                    self._emit_registration(blk, spec)
            if bi % blocks_per_batch == 0:
                batch = bi // blocks_per_batch
                for ri, route in enumerate(RARE_ROUTES):
                    if ri % n_batches == batch:
                        self._emit_rare(blk, rng, route, bi)
            self.blocks.append(blk)

    # -- donations (last writer wins on "on_chain_id|pot or __direct__") --

    def _donation_spec(self, rng: random.Random, i: int) -> dict:
        pot = rng.choice(self.pots) if rng.random() < 0.4 else None
        return {
            "id": i,
            "donor_id": rng.choice(self.accounts),
            "recipient_id": rng.choice(self.accounts),
            "total_amount": str(rng.randint(1, 10**6) * 10**18),
            "pot": pot,
            "matching_pool": pot is not None and rng.random() < 0.3,
            "ft_id": rng.choice([None, None, None, "usdc.near"]),
            "donated_at_ms": BASE_MS + i * 10_000,
        }

    def _emit_donation(self, blk: _Block, s: dict) -> None:
        if s["pot"] is None:
            payload = {
                "id": s["id"],
                "donor_id": s["donor_id"],
                "total_amount": s["total_amount"],
                "protocol_fee": "0",
                "recipient_id": s["recipient_id"],
                "ft_id": s["ft_id"],
                "donated_at_ms": s["donated_at_ms"],
            }
            version = blk.receipt(DONATE, s["donor_id"], "donate", success=payload)
        else:
            payload = {
                "id": s["id"],
                "donor_id": s["donor_id"],
                "total_amount": s["total_amount"],
                "net_amount": s["total_amount"],
                "protocol_fee": "0",
                "project_id": s["recipient_id"],
                "matching_pool": s["matching_pool"],
                "ft_id": s["ft_id"],
                "donated_at": s["donated_at_ms"],
            }
            version = blk.receipt(
                s["pot"], s["donor_id"], "handle_protocol_fee_callback", success=payload
            )
        key = f"{s['id']}|{s['pot'] or '__direct__'}"
        value = (key, s["donor_id"], s["recipient_id"], s["total_amount"], s["pot"])
        prev = self.donations.get(key)
        if prev is None or version > prev[0]:
            self.donations[key] = (version, value)

    # -- registrations (first writer wins on (list_id, registrant_id)) --

    def _emit_registration(self, blk: _Block, s: dict) -> None:
        version = blk.receipt(LISTS, s["registered_by"], "register_batch", success=[s])
        key = (s["list_id"], s["registrant_id"])
        value = (s["list_id"], s["registrant_id"], s["id"], s["status"])
        prev = self.registrations.get(key)
        if prev is None or version < prev[0]:
            self.registrations[key] = (version, value)

    def _emit_pot(self, blk: _Block, rng: random.Random, pot: str) -> None:
        """Deploy a pot and pay out three of its projects."""
        owner = rng.choice(self.accounts)
        blk.receipt(pot, owner, "new", predecessor=FACTORY, args={
            "owner": owner, "chef": owner, "pot_name": pot.split(".")[0],
            "pot_description": "d", "max_projects": 10,
            "application_start_ms": BASE_MS, "application_end_ms": BASE_MS,
            "public_round_start_ms": BASE_MS, "public_round_end_ms": BASE_MS + 10**10,
            "admins": [owner],
        })
        projects = rng.sample(self.accounts, 3)
        blk.receipt(pot, owner, "chef_set_payouts", args={
            "payouts": [{"project_id": p, "amount": str(rng.randint(1, 10**9))} for p in projects]
        })
        for p in projects:
            blk.receipt(pot, owner, "transfer_payout_callback", args={
                "payout": {"project_id": p, "amount": str(rng.randint(1, 10**9)), "paid_at": BASE_MS},
            })

    # -- rare routes --

    def _emit_rare(self, blk: _Block, rng: random.Random, route: str, bi: int) -> None:
        a = rng.choice(self.accounts)
        b = rng.choice(self.accounts)
        pot = rng.choice(self.pots)
        ms = BASE_MS + bi * 1000
        if route == "create_list":
            blk.receipt(LISTS, a, "create_list", success={
                "id": 1, "owner": a, "admins": [b], "name": "list", "description": "d",
                "cover_image_url": None, "admin_only_registrations": False,
                "default_registration_status": "Approved", "created_at": ms, "updated_at": ms,
            })
        elif route == "upvote":
            blk.receipt(LISTS, a, "upvote", args={"list_id": 1})
        elif route == "apply":
            blk.receipt(pot, a, "apply", success={
                "project_id": a, "message": "m", "status": "Pending", "submitted_at": ms,
            })
        elif route == "app_review":
            blk.receipt(pot, b, "chef_set_application_status", args={"project_id": a},
                        success={"status": "Approved", "review_notes": "ok", "updated_at": ms})
        elif route == "set_payouts":
            blk.receipt(pot, b, "chef_set_payouts",
                        args={"payouts": [{"project_id": a, "amount": "100"}]})
        elif route == "transfer_payout":
            blk.receipt(pot, b, "transfer_payout_callback",
                        args={"payout": {"project_id": a, "amount": "100", "paid_at": ms}})
        elif route == "challenge":
            blk.receipt(pot, a, "challenge_payouts", args={"reason": "why"})
        elif route == "challenge_response":
            blk.receipt(pot, b, "admin_update_payouts_challenge",
                        args={"challenger_id": a, "notes": "n", "resolve_challenge": True})
        elif route == "update_registration":
            blk.receipt(LISTS, b, "update_registration", success={
                "id": 0, "status": "Rejected", "admin_notes": "n", "updated_ms": ms,
            })
        elif route == "social_set":
            blk.receipt(SOCIAL, a, "set", args={"data": {a: {"profile": {"name": a}}}})
        elif route == "new_pot":
            blk.receipt(pot, a, "new", predecessor=FACTORY, args={
                "owner": a, "chef": b, "pot_name": "p", "pot_description": "d",
                "max_projects": 10, "application_start_ms": ms, "application_end_ms": ms,
                "public_round_start_ms": ms, "public_round_end_ms": ms + 10**9,
                "admins": [b],
            })
        elif route == "new_factory":
            blk.receipt(FACTORY, a, "new", args={
                "owner": a, "admins": [b], "whitelisted_deployers": [a],
                "protocol_fee_basis_points": 200, "protocol_fee_recipient_account": b,
                "require_whitelist": True,
            })
        elif route == "new_registry":
            blk.receipt(REGISTRY, a, "new", args={"owner": a, "admins": [b]})
        elif route == "ev_provider":
            blk.receipt(REGISTRY, a, "register_provider", logs=[_event("add_or_update_provider", {
                "provider": {"id": 1, "contract_id": "c.near", "method_name": "is_human",
                             "name": "prov", "status": "Active", "default_weight": 10},
            })])
        elif route == "ev_stamp":
            blk.receipt(REGISTRY, a, "add_stamp", logs=[_event("add_stamp", {
                "stamp": {"user_id": a, "provider_id": 1},
            })])
        elif route == "ev_group":
            blk.receipt(REGISTRY, a, "create_group", logs=[_event("add_or_update_group", {
                "group": {"id": 1, "name": "g", "rule": "Highest", "providers": [1]},
            })])
        elif route == "ev_threshold":
            blk.receipt(REGISTRY, a, "update_threshold", logs=[_event(
                "update_default_human_threshold", {"default_human_threshold": 30},
            )])
        elif route == "ev_blacklist":
            blk.receipt(REGISTRY, a, "blacklist", logs=[_event("blacklist_account", {
                "accounts": [b], "reason": "sybil",
            })])
        elif route == "ev_pot_config":
            blk.receipt(pot, a, "admin_set_config", logs=[_event("update_pot_config", {
                "chef": b,
            })])
        elif route == "list_update":
            blk.receipt(LISTS, a, "admin_set_default_project_status",
                        args={"registration_id": 1},
                        success={"name": "list2", "owner": a,
                                 "default_registration_status": "Pending",
                                 "admin_only_registrations": True, "updated_at": ms})
        elif route == "list_remove_admins":
            blk.receipt(LISTS, a, "owner_remove_admins", args={"list_id": 1, "admins": [b]})
        elif route == "registry_add_admins":
            blk.receipt(REGISTRY, a, "owner_add_admins", args={"account_ids": [b]})
        elif route == "factory_config":
            blk.receipt(FACTORY, a, "admin_set_require_whitelist", args={"require_whitelist": False})
        else:
            raise ValueError(route)

    # -- output --

    def write(self, lake_dir: str) -> None:
        """One JSON file per block under ``lake_dir``, with mtimes
        increasing with height so the file source drains them in block
        order."""
        os.makedirs(lake_dir, exist_ok=True)
        for i, blk in enumerate(self.blocks):
            p = os.path.join(lake_dir, f"block_{blk.height}.json")
            with open(p, "w") as f:
                f.write(json.dumps(blk.message()))
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def receipts(self) -> int:
        return sum(len(b.outcomes) for b in self.blocks)

    def expected_donations(self) -> list[tuple]:
        return [v for _, v in self.donations.values()]

    def expected_registrations(self) -> list[tuple]:
        return [v for _, v in self.registrations.values()]
