"""The two workloads: inputs, timed phases, metrics and checks.

Both report the same end-to-end metric names; what one operation is
differs per workload:

  metric      serve                                   curate
  setup_s     session + lake + stream ingest +        session + tables +
              token pricing + gold refresh +          priming pass
              warm-up requests
  ops_per_s   requests per second of the route mix    passes / loop time
  op_p50_ms   median request latency of the mix       median pass time

A curate operation is one pass over the query set: a pass sums four
queries' times, which varied by 6-25 % each from run to run. No run
holds ten samples beyond a p90 (a few dozen requests, two or three query
passes), so no tail percentile is an end-to-end metric; the heavy serve
routes dominate the loop's time and so move ``ops_per_s``, the light
ones move ``op_p50_ms``.

The write path has no workload of its own: serve's silver state is built
by ``streaming.pipeline.stream_ingest`` draining a seeded lake that covers
every entity route, so a write-path change moves serve's ``setup_s``, and
the traced run breaks the micro-batch down by layer. A workload timing
micro-batches needs at least three per run for a steady median, and one
costs 20-45 s on a 4-core host whatever its size (about 150 Spark jobs):
22 such runs would take most of the benchmark's time budget.

Latencies are timed with the tracer off; the traced run adds the
per-layer metrics (BENCHMARK.json ``per_layer``). A layer a workload does
not exercise reads 0 there.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import checks
import curategen
import cycle
import lakegen
from django_indexer_spark.plans import fixture_queries
from django_indexer_spark.sources import lake as lake_src
from django_indexer_spark.sources import silver, storage
from django_indexer_spark.streaming import pipeline

# The serve lake drains as one micro-batch. Every block carries donations
# and list registrations, a tenth of their keys replayed with new values;
# the first block also deploys the pots and carries one receipt of every
# rarer route, so every ENTITY_PIPELINES entity gets rows.
SERVE_LAKE = dict(
    n_batches=1,
    blocks_per_batch=6,
    donations_per_block=150,
    registrations_per_block=25,
    n_accounts=2000,
    n_pots=30,
    replay_share=0.1,
    deploy_pots=True,
)
# Serve request mix. No access log is in the repository, so the mix is an
# assumption, stated in BENCHMARK.json: light routes take 80 % of the
# requests and heavy aggregates 20 %, equal weights within each class.
# Replace these with measured shares once real traffic is available.
LIGHT_SHARE = 0.8
ROUTE_WEIGHTS = {
    **{r: LIGHT_SHARE / len(cycle.LIGHT_ROUTES) for r in cycle.LIGHT_ROUTES},
    **{r: (1 - LIGHT_SHARE) / len(cycle.HEAVY_ROUTES) for r in cycle.HEAVY_ROUTES},
}
ZIPF_S = 1.1  # key skew (assumed): a cache would see repeats (serve.repeat_share)
# Untimed requests per light route before the loop; a heavy route gets
# one. On a 4-core host the light routes' first timed requests, when a
# single warm-up request per route ended with the heavy ones, ran half
# again as slow as the rest of the loop; the heavy routes therefore warm
# up first and the light ones last.
WARMUP_LIGHT = 3
# One client: Spark runs on one task thread here, so a second client's
# request queues behind the first one's tasks, and which light requests
# happen to overlap a heavy one moved the median by a quarter between
# runs. With one client each latency is the request's own service time.
CLIENTS = 1
N_REQUESTS = 5000  # upper bound; the closed loop stops at --seconds
# The curate query set, one registry query per operator module, and the
# module each exercises. The rest of the registry's curation set
# (curation_pipeline_v2, dedup_clusters, dedup_simhash, sim_kmeans_train)
# would add 30 s cold and 13 s warm per run on a 4-core host, more than
# the time budget leaves for this workload.
CURATE_QUERIES = {
    "dedup_minhash_pairs": "dedup",
    "text_span_removal": "text",
    "sim_ann_lsh": "similarity",
    "graph_pagerank": "graph",
}
OPERATOR_LAYERS = ("dedup", "text", "similarity", "graph")


@dataclass
class Result:
    end_to_end: dict
    per_layer: dict
    checks: list[dict]
    attempted: int
    failed: int
    info: dict = field(default_factory=dict)


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _busy(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _instrument(tracer) -> None:
    """Spans around the engine's public functions (no-op untraced): every
    ENTITY_PIPELINES normalizer, silver.merge_batch, silver.read_table and
    storage.write_clustered. Domain and endpoint spans are opened by the
    refresh and the request loop in cycle.py."""
    if not tracer.enabled:
        return
    orig = dict(pipeline.ENTITY_PIPELINES)
    for name, (fn, key, keep) in orig.items():
        wrapped = tracer.wrap(fn, "sources.normalize.entity", lambda a, k, n=name: {"entity": n})
        pipeline.ENTITY_PIPELINES[name] = (wrapped, key, keep)
    tracer.on_close(lambda: pipeline.ENTITY_PIPELINES.update(orig))

    def merge_attrs(args, kwargs):
        return {"entity": os.path.basename(args[1].rstrip("/"))}

    def merge_result(span, touched):
        span["buckets_touched"] = len(touched)

    tracer.patch(silver, "merge_batch", "sources.silver.merge_batch", merge_attrs, merge_result)
    tracer.patch(silver, "read_table", "sources.silver.read_table")
    tracer.patch(storage, "write_clustered", "sources.storage.write_clustered")


def _write_layers(spans: list[dict], batch: dict) -> dict:
    """``batch``: the micro-batch's commit time, receipts and Spark jobs."""
    merges = _named(spans, "sources.silver.merge_batch")
    useful = [s for s in merges if s.get("buckets_touched")]
    out = {
        "streaming.pipeline.batch_s": _m(batch.get("s", 0.0), "s"),
        "streaming.pipeline.receipts_per_s": _m(
            batch.get("receipts", 0) / batch["s"] if batch else 0.0, "1/s"
        ),
        "streaming.pipeline.spark_jobs_per_batch": _m(batch.get("jobs", 0), "count"),
        "sources.normalize.plan_s": _m(_busy(_named(spans, "sources.normalize.entity")), "s"),
        "sources.silver.merge_batch.busy_s": _m(_busy(merges), "s"),
        "sources.silver.merge_batch.calls": _m(len(merges), "count"),
        "sources.silver.merge_batch.empty_calls": _m(len(merges) - len(useful), "count"),
        "sources.silver.merge_batch.useful_ratio": _m(len(useful) / max(1, len(merges)), "ratio"),
        "sources.silver.merge_batch.spark_jobs": _m(sum(s["jobs"] for s in merges), "count"),
        "sources.silver.merge_batch.buckets_touched": _m(
            sum(s.get("buckets_touched", 0) for s in merges), "count"
        ),
    }
    for ent in ("donations", "accounts", "activities"):
        out[f"sources.silver.merge_batch.{ent}.busy_s"] = _m(
            _busy([s for s in merges if s.get("entity") == ent]), "s"
        )
    return out


def _refresh_layers(spans: list[dict]) -> dict:
    out = {
        f"plans.domain.{step}.busy_s": _m(_busy(_named(spans, f"plans.domain.{step}")), "s")
        for step in ("price_donations", "account_stats", "pot_stats")
    }
    out["sources.storage.write_clustered.busy_s"] = _m(
        _busy(_named(spans, "sources.storage.write_clustered")), "s"
    )
    return out


def _serve_layers(done: list[tuple], spans: list[dict]) -> dict:
    out = {}
    for r in cycle.ROUTES:
        lat = [d[3] * 1000.0 for d in done if d[1] == r and d[5] is None]
        out[f"plans.endpoints.{r}.p50_ms"] = _m(statistics.median(lat) if lat else 0.0, "ms")
    reqs = [s for s in spans if s["name"].startswith("plans.endpoints.")]
    n = max(1, len(reqs))
    out["plans.endpoints.spark_jobs_per_request"] = _m(sum(s["jobs"] for s in reqs) / n, "count")
    out["plans.endpoints.spark_tasks_per_request"] = _m(sum(s["tasks"] for s in reqs) / n, "count")
    return out


def _mix_metrics(done: list[tuple], weights: dict[str, float], clients: int) -> tuple[float, float]:
    """(requests per second, median latency in ms) of the declared route
    mix, from the requests served. A loop stopped at a deadline serves a
    prefix of the mix, off by up to one request per route (in a few dozen
    requests, one heavy request more moves the mean by a tenth), and its
    wall time includes whatever was in flight at the deadline. Weighting
    each route's samples by its share of the mix removes the first; taking
    closed-loop throughput as clients / mean latency removes the second."""
    by_route: dict[str, list[float]] = {}
    for d in done:
        if d[5] is None:
            by_route.setdefault(d[1], []).append(d[3] * 1000.0)
    weights = {r: w for r, w in weights.items() if r in by_route}
    total = sum(weights.values())
    mean_ms = sum(w * statistics.fmean(by_route[r]) for r, w in weights.items()) / total
    samples = sorted((x, w / len(by_route[r])) for r, w in weights.items() for x in by_route[r])
    acc = 0.0
    for p50_ms, share in samples:
        acc += share
        if acc >= total / 2:
            break
    return clients * 1000.0 / mean_ms, p50_ms


def _layout_layers(spark, work: str) -> dict:
    lake_dir = f"{work}/lake"
    if not os.path.isdir(lake_dir):
        return {
            "sources.lake.bronze_rows": _m(0, "count"),
            "sources.silver.bytes_per_input_byte": _m(0.0, "ratio"),
            "sources.silver.files_written": _m(0, "count"),
        }
    lake_bytes = cycle.dir_bytes(lake_dir)[0]
    silver_bytes, silver_files = cycle.dir_bytes(f"{work}/silver", ".parquet")
    bronze = lake_src.explode_receipts(lake_src.read_lake(spark, lake_dir)).count()
    return {
        "sources.lake.bronze_rows": _m(bronze, "count"),
        "sources.silver.bytes_per_input_byte": _m(silver_bytes / lake_bytes, "ratio"),
        "sources.silver.files_written": _m(silver_files, "count"),
    }


def _operator_layers(spans: list[dict], n_passes: int, cold_pass_s: float) -> dict:
    """Per timed curate pass: the time of the queries exercising each
    operator module (plan building and execution) and their Spark jobs."""
    n = max(1, n_passes)
    return {
        **{
            f"operators.{layer}.busy_s": _m(_busy(_named(spans, f"operators.{layer}")) / n, "s")
            for layer in OPERATOR_LAYERS
        },
        "curate.spark_jobs": _m(sum(s["jobs"] for s in spans) / n, "count"),
        "curate.cold_pass_s": _m(cold_pass_s, "s"),
    }


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _per_layer(spark, tracer, work: str, setup: dict, write_spans: list[dict] = (),
               batch: dict | None = None, done: list[tuple] = (), loop_spans: list[dict] = (),
               served: list[tuple] = (), curate_spans: list[dict] = (), n_passes: int = 0,
               cold_pass_s: float = 0.0) -> dict:
    """Every per-layer metric; the layers the workload did not run read 0."""
    refresh_spans = [s for s in tracer.spans if s["trace"] == "refresh"]
    return {
        **{f"setup.{k}": _m(setup.get(k, 0.0), "s")
           for k in ("session_s", "generate_s", "bootstrap_s")},
        **_write_layers(list(write_spans), batch or {}),
        "sources.silver.read_table.busy_s": _m(
            _busy(_named(tracer.spans, "sources.silver.read_table")), "s"
        ),
        **_layout_layers(spark, work),
        "refresh.busy_s": _m(_busy(_named(refresh_spans, "refresh")), "s"),
        **_refresh_layers(refresh_spans),
        **_serve_layers(list(done), list(loop_spans)),
        "serve.repeat_share": _m(cycle.repeat_share(list(served)), "ratio"),
        **_operator_layers(list(curate_spans), n_passes, cold_pass_s),
        "trace.spans": _m(len(tracer.spans), "count"),
        "trace.overhead_s": _m(tracer.overhead_s, "s"),
    }


def _ingest(spark, tracer, work: str, lake: lakegen.Lake) -> tuple[dict, list[dict]]:
    """Drain the lake into silver with the pipeline's stream, then price
    the tokens. Returns (the micro-batch's facts, the spans inside it)."""
    t0 = time.perf_counter()
    wall_offset = time.time() - t0
    drain_s, progress = cycle.drain(
        spark, f"{work}/lake", f"{work}/silver", f"{work}/ckpt", SERVE_LAKE["blocks_per_batch"]
    )
    if len(progress) != 1:
        raise RuntimeError(f"the lake drained as {len(progress)} micro-batches, not one")
    cycle.price_tokens(spark, f"{work}/silver")
    p = progress[0]
    batch = {"s": p["durationMs"]["triggerExecution"] / 1000.0, "receipts": lake.receipts(),
             "drain_s": drain_s}
    if not tracer.enabled:
        return batch, []
    start = _iso_to_epoch(p["timestamp"]) - wall_offset
    tracer.record("streaming.pipeline.micro_batch", start, start + batch["s"], trace="batch0")
    spans = [s for s in tracer.spans if s["trace"] == "batch0"]
    # the stream runs its jobs in its run id's job group, except those
    # launched inside traced spans
    group_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(p["runId"])
    batch["jobs"] = len(group_jobs) + sum(s["jobs"] for s in spans)
    return batch, spans


def run_serve(spark, tracer, work: str, seed: int, seconds: float, session_s: float) -> Result:
    """Build silver through the stream, refresh gold, then the closed loop
    for ``seconds``."""
    _instrument(tracer)
    t0 = time.perf_counter()
    lake = lakegen.Lake(seed, **SERVE_LAKE)
    lake.write(f"{work}/lake")
    generate_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    batch, write_spans = _ingest(spark, tracer, work, lake)
    bootstrap_s = time.perf_counter() - t0
    requests = cycle.request_mix(
        random.Random(seed), N_REQUESTS, lake.accounts, lake.pots, ROUTE_WEIGHTS, ZIPF_S, 50
    )
    silver_dir, gold_dir = f"{work}/silver", f"{work}/gold"

    t0 = time.perf_counter()
    with tracer.span("refresh", trace="refresh"):
        cycle.refresh(spark, silver_dir, gold_dir, tracer)
    refresh_s = time.perf_counter() - t0
    tables = cycle.Tables(spark, silver_dir, gold_dir)
    # untimed requests first, so the loop times warm routes; the keys come
    # from another shuffle, so few repeat in the loop
    t0 = time.perf_counter()
    warm: dict[str, list] = {}
    for r, k in cycle.request_mix(random.Random(f"warm-up {seed}"), N_REQUESTS, lake.accounts,
                                  lake.pots, ROUTE_WEIGHTS, ZIPF_S, 50):
        warm.setdefault(r, []).append(k)
    for route in cycle.HEAVY_ROUTES:
        cycle.route_frame(tables, route, warm[route][0]).collect()
    for i in range(WARMUP_LIGHT):
        for route in cycle.LIGHT_ROUTES:
            cycle.route_frame(tables, route, warm[route][i]).collect()
    warmup_s = time.perf_counter() - t0
    t_loop = time.perf_counter()
    serve_s, done = cycle.serve_loop(tables, requests, CLIENTS, seconds, tracer)
    t_end = time.perf_counter()

    lat_ms = [d[3] * 1000.0 for d in done if d[5] is None]
    served = [(d[1], d[2]) for d in done]
    missing = sorted(set(cycle.ROUTES) - {d[1] for d in done})
    checks_out = [
        checks.check("every_route_served", not missing, f"not served: {missing}"),
        *checks.keyed_state(silver_dir, lake),
        *checks.serve(silver_dir, gold_dir, done, seed),
    ]
    ops_per_s, p50_ms = _mix_metrics(done, ROUTE_WEIGHTS, CLIENTS)
    end_to_end = {
        # ingest and the refresh are set-up for the loop: work moved into
        # either shows here
        "setup_s": _m(session_s + generate_s + bootstrap_s + refresh_s + warmup_s, "s"),
        "ops_per_s": _m(ops_per_s, "1/s"),
        "op_p50_ms": _m(p50_ms, "ms"),
    }
    setup = {"session_s": session_s, "generate_s": generate_s, "bootstrap_s": bootstrap_s}
    info = {**setup, "batch": batch, "refresh_s": refresh_s, "warmup_s": warmup_s,
            "requests": len(done),
            "clients": CLIENTS, "serve_s": serve_s, "served_per_s": len(lat_ms) / serve_s,
            "served_p50_ms": statistics.median(lat_ms),
            "route_ms": {r: [round(d[3] * 1000.0, 1) for d in done if d[1] == r]
                         for r in cycle.ROUTES},
            "repeat_share": cycle.repeat_share(served)}
    per_layer = {}
    if tracer.enabled:
        loop_spans = [s for s in tracer.spans if t_loop <= s["start"] < t_end]
        per_layer = _per_layer(spark, tracer, work, setup, write_spans, batch,
                               done=done, loop_spans=loop_spans, served=served)
    return Result(
        end_to_end, per_layer, checks_out,
        attempted=len(done), failed=len(done) - len(lat_ms), info=info,
    )


def _curate_pass(spark, tracer, data_dir: str, tag: str) -> list[tuple[str, float]]:
    """Every curate query once, forced through the noop sink; each runs in
    a span named after the operator module it exercises."""
    out = []
    for name, layer in CURATE_QUERIES.items():
        t0 = time.perf_counter()
        with tracer.span(f"operators.{layer}", trace=f"{tag}.{name}", query=name):
            fixture_queries.QUERIES[name](spark, data_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        out.append((name, time.perf_counter() - t0))
    return out


def run_curate(spark, tracer, work: str, seed: int, seconds: float, session_s: float) -> Result:
    """Generate the fixture tables; run the priming pass, which collects
    each query's result for the oracle check; then whole passes over the
    query set until ``seconds`` have passed (at least two, so the median
    pass is not a single sample)."""
    data_dir = f"{work}/curate"
    t0 = time.perf_counter()
    rows = curategen.write(seed, data_dir)
    generate_s = time.perf_counter() - t0
    results, cold_pass_s = checks.collect_queries(spark, data_dir, list(CURATE_QUERIES))

    t_loop = time.perf_counter()
    passes: list[list[tuple[str, float]]] = []
    while len(passes) < 2 or time.perf_counter() - t_loop < seconds:
        passes.append(_curate_pass(spark, tracer, data_dir, f"pass{len(passes)}"))
    loop_s = time.perf_counter() - t_loop
    checks_out = checks.curate(data_dir, results)

    pass_ms = [sum(t for _, t in p) * 1000.0 for p in passes]
    end_to_end = {
        "setup_s": _m(session_s + generate_s + cold_pass_s, "s"),
        "ops_per_s": _m(len(passes) / loop_s, "1/s"),
        "op_p50_ms": _m(statistics.median(pass_ms), "ms"),
    }
    info = {"session_s": session_s, "generate_s": generate_s, "cold_pass_s": cold_pass_s,
            "rows": rows, "passes": len(passes),
            "query_ms": {n: [round(t * 1000.0, 1) for p in passes for q, t in p if q == n]
                         for n in CURATE_QUERIES}}
    per_layer = {}
    if tracer.enabled:
        timed = [s for s in tracer.spans if s["start"] >= t_loop]
        setup = {"session_s": session_s, "generate_s": generate_s}
        per_layer = _per_layer(spark, tracer, work, setup, curate_spans=timed,
                               n_passes=len(passes), cold_pass_s=cold_pass_s)
    return Result(end_to_end, per_layer, checks_out, attempted=len(passes), failed=0, info=info)


RUNNERS = {"serve": run_serve, "curate": run_curate}
