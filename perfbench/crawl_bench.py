"""The CrawlRun workloads: seeds from ``--seed``, the shipped wave loop over
the synthetic web, correctness gates, end-to-end and per-layer metrics."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np

from .tracing import Tracer, layer_wrappers, rate

STATE_TABLES = ("documents", "seen_delta", "frontier_delta", "frontier_base",
                "schedule_log", "fetched", "metrics")
WRITE_TABLES = ("documents", "seen_delta", "frontier_delta", "schedule_log",
                "fetched", "metrics")
# CrawlRun's per-wave `timings` keys reported as per-layer medians
WAVE_PHASES = ("schedule", "fetch", "bloom_standing", "discover_dedup",
               "unseen_seq", "state_writes")
SEED_PHASES = ("seed_canon_dedup_seq", "seed_materialize", "seed_writes")


class CheckFailed(Exception):
    pass


@dataclass(frozen=True)
class CrawlShape:
    n_seeds: int
    n_hosts: int
    budget: int
    fanout: int
    n_waves: int
    compact_every: int


def make_seeds(spark, n_seeds: int, n_hosts: int, seed: int):
    """synth_seeds' Zipf host shape (cubic transform of a uniform hash),
    with the hash and the URL path salted by the benchmark seed."""
    from pyspark.sql import functions as F

    key = F.concat(F.lit(f"{seed}:"), F.col("id").cast("string"))
    u = (F.pmod(F.xxhash64(key), F.lit(1_000_000)).cast("double")
         / 1_000_000.0)
    host_idx = F.floor(F.lit(n_hosts) * u * u * u).cast("int")
    host = F.concat(F.lit("host"), host_idx.cast("string"),
                    F.lit(".example.com"))
    return (spark.range(n_seeds)
            .withColumn("url", F.concat(F.lit("https://"), host,
                                        F.lit(f"/s{seed}/"),
                                        F.col("id").cast("string")))
            .withColumn("priority", F.lit(1.0))
            .withColumn("seq", F.col("id"))
            .drop("id"))


def crawl_once(spark, shape: CrawlShape, seeds, state_dir: str) -> dict:
    """One fresh crawl through ``CrawlRun.run``; returns its wall, the
    init/run_wave walls and the per-wave stats."""
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher

    shutil.rmtree(state_dir, ignore_errors=True)
    run = CrawlRun(spark, state_dir,
                   fetcher=synthetic_fetcher(n_hosts=shape.n_hosts,
                                             fanout=shape.fanout),
                   default_budget=shape.budget,
                   compact_every=shape.compact_every)
    walls: dict[str, list[float]] = {"init": [], "wave": []}

    def timed(fn, key):
        def call(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                walls[key].append(time.perf_counter() - t0)
        return call

    run.init_from_seeds = timed(run.init_from_seeds, "init")
    run.run_wave = timed(run.run_wave, "wave")
    t0 = time.perf_counter()
    stats = run.run(shape.n_waves, seeds=seeds)
    wall = time.perf_counter() - t0
    ledger = run.state.read_ledger()
    init = next(w for w in ledger["waves"] if w["wave"] == -1)
    return {"run": run, "wall_s": wall, "init_s": walls["init"][0],
            "wave_s": walls["wave"], "stats": stats, "ledger": ledger,
            "init_timings": init["timings"]}


def wave_counts(rep: dict) -> list[tuple[int, int, int]]:
    return [(s["scheduled"], s["discovered"], s["deduped_new"])
            for s in rep["stats"]]


def expect_counts(rep: dict, expected, what: str) -> None:
    """Per-wave counts are a function of the seed alone."""
    if wave_counts(rep) != expected:
        raise CheckFailed(f"per-wave (scheduled, discovered, new) of the "
                          f"{what} {wave_counts(rep)} != {expected}")


def check_state(rep: dict, shape: CrawlShape) -> int:
    """Engine invariants on a finished crawl's state; returns the number of
    failed fetches (``ok=False``) recorded in the metrics table."""
    from pyspark.sql import functions as F

    run, n = rep["run"], shape.n_waves
    next_seq = rep["ledger"]["next_seq"]
    seen = run.state.read_seen(n).agg(
        F.count("*").alias("n"),
        F.countDistinct("url_hash").alias("d")).first()
    if seen["n"] != seen["d"]:
        raise CheckFailed(f"url_hash repeats in seen: {seen['n']} rows, "
                          f"{seen['d']} distinct")
    if seen["n"] != next_seq:
        raise CheckFailed(f"next_seq {next_seq} != |seen| {seen['n']}")
    log = run.state.read_all("schedule_log")
    seqs = (run.state.read_pending(n).select("seq")
            .unionByName(log.select("seq"))
            .agg(F.count("*").alias("n"), F.countDistinct("seq").alias("d"),
                 F.min("seq").alias("lo"), F.max("seq").alias("hi")).first())
    if not (seqs["n"] == seqs["d"] == next_seq and seqs["lo"] == 0
            and seqs["hi"] == next_seq - 1):
        raise CheckFailed(f"seq not contiguous over pending+scheduled: {seqs}"
                          f" vs next_seq {next_seq}")
    worst = (log.groupBy("wave", "host").count()
             .agg(F.max("count").alias("m")).first()["m"])
    if worst > shape.budget:
        raise CheckFailed(f"a host got {worst} fetches in one wave "
                          f"(budget {shape.budget})")
    failed = run.state.read_all("metrics").agg(
        F.sum("fetch_failed").alias("f")).first()["f"]
    return int(failed or 0)


def simulate(seed_urls: list[str], shape: CrawlShape) -> dict:
    """The single-node oracle, plus its per-wave counts in the engine's
    terms: pages scheduled, distinct canonical outlinks discovered, and
    how many of those were new to the seen set."""
    from llm_scraper_spark.crawl.simulator import simulate_crawl
    from llm_scraper_spark.functions.urls import canonicalize_url
    from llm_scraper_spark.sources.synthetic import synth_page

    links_of: dict[str, list[str]] = {}

    def fetch(u):
        page = synth_page(u, n_hosts=shape.n_hosts, fanout=shape.fanout)
        links_of[u] = page["outlinks"]
        return page

    sim = simulate_crawl(seed_urls, shape.n_waves, budget=shape.budget,
                         fetch_fn=fetch)
    by_wave: dict[int, list[str]] = {}
    for w, _seq, url in sim["schedule_log"]:
        by_wave.setdefault(w, []).append(url)
    seen = {canonicalize_url(u)[0] for u in seed_urls}
    counts, outlinks = [], []
    for w in range(shape.n_waves):
        pages = by_wave.get(w, [])
        links = [link for u in pages for link in links_of[u]]
        canon = {canonicalize_url(link)[0] for link in links}
        counts.append((len(pages), len(canon), len(canon - seen)))
        seen |= canon
        outlinks += links
    sim["wave_counts"] = counts
    sim["outlinks"] = outlinks
    return sim


def check_against_simulator(rep: dict, shape: CrawlShape, seeds) -> dict:
    """Full-size schedule log, final seen set and next_seq vs the oracle."""
    seed_urls = [r["url"] for r in seeds.orderBy("seq").select("url").collect()]
    sim = simulate(seed_urls, shape)
    run = rep["run"]
    log = [(r["wave"], r["seq"], r["url"]) for r in
           run.state.read_all("schedule_log").select("wave", "seq", "url")
           .orderBy("wave", "seq").collect()]
    if log != sim["schedule_log"]:
        bad = next((i for i, (a, b) in enumerate(zip(log, sim["schedule_log"]))
                    if a != b), min(len(log), len(sim["schedule_log"])))
        raise CheckFailed(f"schedule log differs from the simulator at row "
                          f"{bad} ({len(log)} vs {len(sim['schedule_log'])})")
    got_md5 = {r["key_hex"] for r in
               run.state.read_seen(shape.n_waves).select("key_hex").collect()}
    if got_md5 != sim["seen_md5"]:
        raise CheckFailed(f"seen set differs from the simulator: "
                          f"{len(got_md5 - sim['seen_md5'])} extra, "
                          f"{len(sim['seen_md5'] - got_md5)} missing")
    if rep["ledger"]["next_seq"] != sim["next_seq"]:
        raise CheckFailed(f"next_seq {rep['ledger']['next_seq']} != "
                          f"simulator {sim['next_seq']}")
    expect_counts(rep, sim["wave_counts"], "crawl vs the simulator")
    return sim


def _state_footprint(state_dir: str, next_seq: int) -> dict:
    total, files = 0, {t: 0 for t in STATE_TABLES}
    for dirpath, _dirs, names in os.walk(state_dir):
        rel = os.path.relpath(dirpath, state_dir).split(os.sep)[0]
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            if rel in files and name.endswith(".parquet"):
                files[rel] += 1
    return {"state.bytes_per_url": total / max(next_seq, 1),
            **{f"state.files.{t}": n for t, n in files.items()}}


def _bloom_fill(bloom) -> float:
    set_bits = sum(int(np.unpackbits(s.view(np.uint8)).sum())
                   for s in bloom.shards)
    return set_bits / (bloom.n_shards * bloom.bits_per_shard)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def trace_layers(ctx, shape: CrawlShape, sim: dict,
                 untraced_wall: float) -> dict:
    """The traced run: one crawl with spans around the layer entry points
    and the Spark event log on; returns every per-layer metric."""
    import pandas as pd

    from llm_scraper_spark.functions.urls import canonicalize_batch
    from llm_scraper_spark.operators.chunker import (
        chunk_by_token_estimate, interleave_spans)
    from llm_scraper_spark.sources.synthetic import synth_page

    spark, since_ms = ctx.start_traced_session()
    seeds = make_seeds(spark, shape.n_seeds, shape.n_hosts, ctx.seed)
    tracer = Tracer(f"{ctx.workload}-seed{ctx.seed}")
    state_dir = os.path.join(ctx.work, "state_traced")
    with layer_wrappers(tracer) as found, tracer.span("bench.crawl"):
        rep = crawl_once(spark, shape, seeds, state_dir)
    window = (since_ms, time.time() * 1000.0)
    expect_counts(rep, sim["wave_counts"], "traced crawl")
    check_state(rep, shape)
    layers = {"trace_overhead_frac": rep["wall_s"] / untraced_wall - 1.0}

    timings = [s["timings"] for s in rep["stats"]]
    for phase in WAVE_PHASES:
        name = ("waves.state_writes_blocked_s" if phase == "state_writes"
                else f"waves.{phase}_s")
        layers[name] = _median([t[phase] for t in timings if phase in t])
    for phase in SEED_PHASES:
        layers[f"waves.{phase}_s"] = rep["init_timings"][phase]
    layers["waves.init_from_seeds_s"] = _median(
        tracer.durations("waves.init_from_seeds"))
    layers["waves.run_wave_s"] = _median(tracer.durations("waves.run_wave"))
    for table in WRITE_TABLES:
        layers[f"state.write_s.{table}"] = _median(
            tracer.durations(f"state.write.{table}"))
    for op in ("read_pending", "read_seen", "commit_wave", "compact_frontier"):
        layers[f"state.{op}_s"] = _median(tracer.durations(f"state.{op}"))
    layers.update(_state_footprint(state_dir, rep["ledger"]["next_seq"]))

    full = tracer.durations("seen.bloom_full")
    layers["seen.bloom_full_builds"] = len(full)
    layers["seen.bloom_build_s"] = _median(full)
    layers["seen.bloom_delta_s"] = _median(tracer.durations("seen.bloom_delta"))
    bloom = found.get("standing_bloom")
    layers["seen.bloom_fill"] = _bloom_fill(bloom) if bloom else 0.0
    disc = sum(s["discovered"] for s in rep["stats"])
    layers["seen.new_frac"] = (sum(s["deduped_new"] for s in rep["stats"])
                               / max(disc, 1))
    hashes = (rep["run"].state.read_seen(shape.n_waves).select("url_hash")
              .toPandas()["url_hash"].to_numpy())
    layers["seen.contains_keys_per_s"] = (
        rate(bloom.contains_many, hashes) if bloom else 0.0)

    layers["urls.canonicalize_urls_per_s"] = rate(
        canonicalize_batch, pd.Series(sim["outlinks"]))
    docs = [(c, m) for _u, c, m in sim["documents"]]
    layers["chunker.pages_per_s"] = rate(
        lambda d: [interleave_spans(chunk_by_token_estimate(c), m)
                   for c, m in d], docs)
    urls = [u for _w, _s, u in sim["schedule_log"]]
    layers["synthetic.synth_page_per_s"] = rate(
        lambda us: [synth_page(u, n_hosts=shape.n_hosts, fanout=shape.fanout)
                    for u in us], urls)
    # off this workload's path
    layers["extraction.mb_per_s_1core"] = 0.0
    layers["extraction.spark_efficiency"] = 0.0
    tracer.write(os.path.join(ctx.work, f"spans-{ctx.workload}-seed{ctx.seed}.json"))
    shutil.rmtree(state_dir, ignore_errors=True)
    layers.update(ctx.spark_layers(window, rep["wall_s"]))
    return layers


def run_workload(ctx, shape: CrawlShape) -> dict:
    spark = ctx.spark
    seeds = make_seeds(spark, shape.n_seeds, shape.n_hosts, ctx.seed)
    reps, timed, sim, failed = [], 0.0, None, 0
    state_dir = os.path.join(ctx.work, "state")
    while not reps or timed + _median([r["wall_s"] for r in reps]) <= ctx.seconds:
        with ctx.phase("timed"), ctx.rss_sampler():
            rep = crawl_once(spark, shape, seeds, state_dir)
        timed += rep["wall_s"]
        ctx.attempted += sum(s["scheduled"] for s in rep["stats"])
        with ctx.phase("check_state"):
            failed += check_state(rep, shape)
        if sim is None:
            with ctx.phase("check_simulator"):
                sim = check_against_simulator(rep, shape, seeds)
        expect_counts(rep, sim["wave_counts"], "timed crawl")
        reps.append({k: v for k, v in rep.items() if k != "run"})
        shutil.rmtree(state_dir, ignore_errors=True)
    ctx.failed += failed

    content_mb = sum(len(c.encode("utf-8")) for _u, c, _m in sim["documents"]) / 1e6
    per = []
    for r in reps:
        sched = sum(s["scheduled"] for s in r["stats"])
        disc = sum(s["discovered"] for s in r["stats"])
        per.append({
            "wall_s": r["wall_s"],
            "url_ops_per_s": (shape.n_seeds + sched + disc) / r["wall_s"],
            "enqueue_urls_per_s": shape.n_seeds / r["init_s"],
            "pages_per_s": sched / r["wall_s"],
            "extract_mb_per_s": content_mb / r["wall_s"],
        })
    metrics = {k: _median([p[k] for p in per]) for k in per[0]}
    wave_walls = [w for r in reps for w in r["wave_s"]]
    metrics["wave_p50_s"] = _median(wave_walls)
    out = {"metrics": metrics,
           "detail": {"reps": len(reps), "wave_samples": len(wave_walls),
                      "wave_counts": wave_counts(reps[0]),
                      "next_seq": reps[0]["ledger"]["next_seq"],
                      "rep_walls_s": [r["wall_s"] for r in reps],
                      "content_mb": content_mb}}
    if ctx.trace:
        with ctx.phase("trace"):
            # the first timed crawl ran in a cold JVM: the overhead baseline
            # is one more untraced crawl, as warm as the traced one
            base = crawl_once(spark, shape, seeds, state_dir)
            shutil.rmtree(state_dir, ignore_errors=True)
            expect_counts(base, sim["wave_counts"], "baseline crawl")
            out["detail"]["trace_baseline_wall_s"] = base["wall_s"]
            out["layers"] = trace_layers(ctx, shape, sim, base["wall_s"])
    return out
