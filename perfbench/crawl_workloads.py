"""Crawl workloads: CrawlLoop over the synthetic web with the
``synthetic_fetch`` transport, timed super-step by super-step from
outside the loop."""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from mklab_focused_crawler_spark.operators.crawl import (
    BROADCAST_ANTI_MAX_KEYS,
    CrawlLoop,
)
from mklab_focused_crawler_spark.operators.extraction import extract_articles_native
from mklab_focused_crawler_spark.operators.frontier import claim_batch, expand_redirects
from mklab_focused_crawler_spark.operators.seen import filter_unseen, with_seen_key
from mklab_focused_crawler_spark.sources.synthetic_web import (
    generate_meta,
    generate_redirects,
    generate_robots,
    generate_seeds,
    synthetic_fetch,
)

from catalog import CRAWL_PHASES
from worker import median, now

# Sizes: crawl_polite keeps ~3k claims per 1 s politeness window so the
# per-super-step fixed cost dominates; crawl_wide claims tens of
# thousands of heavy pages per 10 s window so extraction dominates.
CONFIGS = {
    "crawl_polite": dict(
        n_pages=100_000, n_hosts=500, n_seeds=5_000, window_ms=1_000,
        ttl=3, min_blocks=2, mod_blocks=3,
    ),
    "crawl_wide": dict(
        n_pages=200_000, n_hosts=10_000, n_seeds=40_000, window_ms=10_000,
        ttl=None, min_blocks=10, mod_blocks=1,
    ),
}


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _store_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _subdirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class _Web:
    """The seeded synthetic web of one crawl workload."""

    def __init__(self, run, cfg: dict):
        spark, c = run.spark, cfg
        self.cfg = cfg
        self.robots = generate_robots(spark, c["n_hosts"])
        self.redirects = generate_redirects(spark, c["n_pages"], c["n_hosts"])
        self.meta = generate_meta(spark, c["n_pages"], c["n_hosts"])
        self.fetch = synthetic_fetch(
            c["n_pages"], c["n_hosts"], c["min_blocks"], c["mod_blocks"]
        )
        # the seed picks a subset of the generate_seeds URL space (every
        # page, rank = page index) of expected size n_seeds
        every = generate_seeds(spark, c["n_pages"], c["n_pages"], c["n_hosts"])
        pick = F.pmod(F.xxhash64(F.lit(run.seed), F.col("rank")), F.lit(c["n_pages"]))
        seeds_dir = os.path.join(run.dir("inputs"), "seeds")
        every.filter(pick < c["n_seeds"]).write.mode("overwrite").parquet(seeds_dir)
        self.seeds = spark.read.parquet(seeds_dir)

    def loop(self, spark, root: str) -> CrawlLoop:
        return CrawlLoop(
            spark, root, window_ms=self.cfg["window_ms"], fetch_fn=self.fetch,
            ttl_iterations=self.cfg["ttl"],
        )

    def step(self, loop: CrawlLoop, it: int) -> dict:
        (s,) = loop.run(
            None, self.robots, max_iterations=1, start_iteration=it,
            redirect_map=self.redirects, pages_meta=self.meta,
        )
        return s


def run_crawl(run) -> None:
    spark = run.spark
    cfg = CONFIGS[run.name]

    t0 = now()
    web = _Web(run, cfg)
    gen_s = now() - t0
    root = run.dir("store")
    loop = web.loop(spark, root)
    loop.init(web.seeds, web.meta)
    first = web.step(loop, 0)  # warm-up super-step: codegen, caches
    run.setup_s = now() - t0
    run.layer["synthetic_web.generate_s"] = gen_s
    run.note(f"warm-up super-step 0: claimed={first['claimed']} scheduled={first['scheduled']}")
    if run.trace:
        # the same seed must reproduce super-step 0 exactly in a fresh
        # store (traced runs only: it costs a whole set-up)
        replay = web.loop(spark, run.dir("replay"))
        replay.init(web.seeds, web.meta)
        again = web.step(replay, 0)
        replay.close()
        run.check(
            "superstep_counts_repeat",
            (again["claimed"], again["scheduled"]) == (first["claimed"], first["scheduled"]),
            f"(super-step 0: {first['claimed']}/{first['scheduled']} vs replay "
            f"{again['claimed']}/{again['scheduled']})",
        )

    stats = []
    usage = [_store_usage(root)] if run.trace else []
    run.window_ms = (time.time() * 1e3, 0.0)
    t_window = time.perf_counter()  # run length: wall clock
    it = 1
    while time.perf_counter() - t_window < run.seconds:
        run.attempted += 1
        t = now()
        s = web.step(loop, it)
        run.steps.append(now() - t)
        if s.get("done"):  # frontier drained: the workload is mis-sized
            run.failed += 1
            run.note(f"super-step {it}: frontier drained")
            break
        stats.append(s)
        run.units += s["claimed"] + s["scheduled"]
        if run.trace:
            usage.append(_store_usage(root))
        run.note(
            f"super-step {it}: {run.steps[-1]:.3f} s claimed={s['claimed']} "
            f"scheduled={s['scheduled']} timings={s['timings']}"
        )
        it += 1
    run.window_ms = (run.window_ms[0], time.time() * 1e3)
    run.window_iterations = {s["iteration"] for s in stats}

    if run.trace and stats:
        _layer_stats(run, stats, usage)
        _probe_layers(run, web, loop, it)
    _check_crawl(run, loop, it)
    loop.close()


def _layer_stats(run, stats: list[dict], usage: list[tuple[int, int]]) -> None:
    claimed = sum(s["claimed"] for s in stats)
    for p in CRAWL_PHASES:
        run.layer[f"crawl.phase.{p}_s"] = median([s["timings"].get(p, 0.0) for s in stats])
    run.layer["crawl.new_per_claimed"] = sum(s["scheduled"] for s in stats) / claimed
    run.layer["crawl.mime_rejected_frac"] = sum(s["mime_rejected"] for s in stats) / claimed
    run.layer["crawl.fetch_missing_frac"] = sum(s["fetch_missing"] for s in stats) / claimed
    run.layer["snapshot.files_per_iter"] = median(
        [b[0] - a[0] for a, b in zip(usage, usage[1:])]
    )
    run.layer["snapshot.bytes_per_iter"] = median(
        [b[1] - a[1] for a, b in zip(usage, usage[1:])]
    )


def _probe_layers(run, web: _Web, loop: CrawlLoop, it: int) -> None:
    """Force claim, fetch+extract and the seen gate on the live frontier
    with a noop sink, each timed on its own."""
    spark = run.spark
    fr = loop.frontier.read(spark)

    t = now()
    claimed = claim_batch(
        loop.active_frontier(it, fr), web.robots, web.cfg["window_ms"]
    ).persist()
    n_claimed = claimed.count()
    run.layer["frontier.claim_s"] = now() - t
    run.layer["frontier.claimed_rows"] = n_claimed
    sizes = sorted(
        r["n"] for r in claimed.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    )
    run.layer["frontier.claim_partition_skew"] = sizes[-1] / median(sizes) if sizes else 0.0

    obs_html, obs_docs = Observation(), Observation()
    fetched = web.fetch(expand_redirects(claimed, web.redirects)).filter(
        F.col("mime") == "text/html"
    ).observe(obs_html, F.sum(F.length("html")).alias("bytes"))
    docs = extract_articles_native(
        fetched, id_col="expanded_url", html_col="html", passthrough=("out_links",)
    ).observe(obs_docs, F.count(F.lit(1)).alias("n"))
    t = now()
    _noop(docs)
    dt = now() - t
    run.layer["extraction.fetch_extract_s"] = dt
    run.layer["extraction.docs_per_s"] = obs_docs.get["n"] / dt
    run.layer["extraction.html_bytes"] = obs_html.get["bytes"] or 0
    claimed.unpersist()

    # seen gate over the out-links of the last committed super-step
    n_seen = fr.count()
    regime = "broadcast_anti" if n_seen <= BROADCAST_ANTI_MAX_KEYS else "shuffle_anti"
    links = (
        loop.documents.read(spark)
        .filter(F.col("iteration") == it - 1)
        .select(F.explode("out_links").alias("url"))
    )
    obs_c, obs_n = Observation(), Observation()
    cand = with_seen_key(links, "url", loop.n_buckets).observe(
        obs_c, F.count(F.lit(1)).alias("n")
    )
    pruned = filter_unseen(
        cand, loop.seen_df(it, fr), None, broadcast_seen=regime == "broadcast_anti"
    ).observe(obs_n, F.count(F.lit(1)).alias("n"))
    t = now()
    _noop(pruned)
    run.layer["seen.gate_s"] = now() - t
    n_cand = obs_c.get["n"]
    run.layer["seen.candidates"] = n_cand
    run.layer["seen.new_frac"] = obs_n.get["n"] / n_cand if n_cand else 0.0
    run.note(f"seen regime: {regime} ({n_seen} seen keys)")


def _check_crawl(run, loop: CrawlLoop, it: int) -> None:
    spark = run.spark
    seen = loop.seen_df(it).groupBy("url_hash").count()
    dup_seen = seen.filter(F.col("count") > 1).count()
    run.check("seen_set_exact", dup_seen == 0, f"({dup_seen} url_hash values seen twice)")
    # Each claimed URL is fetched once. A doc_id may repeat: a redirect
    # source and its target are two frontier URLs with one final URL,
    # and both fetch it (the defined semantics of tests/crawl_simulator.py).
    docs = loop.documents.read(spark)
    refetched = docs.groupBy("source_url").count().filter(F.col("count") > 1).count()
    via_two = docs.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    run.check(
        "no_url_fetched_twice", refetched == 0,
        f"({refetched} claimed URLs stored twice; {via_two} doc_ids reached "
        "through two URLs)",
    )
