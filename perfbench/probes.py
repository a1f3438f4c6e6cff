"""Replay probes: single layer functions re-run on the checkpoint tables a
traced crawl wrote, one timed action each.

The replayed iteration is the crawl's last one, N: its fetch batch is
``scheduled_N`` joined to the docs, its seen state and prefilter are the
snapshots as of N-1. ``schedule_top_k`` replayed on ``pending_{N-1}`` must
reproduce ``scheduled_N``'s row count, which checks the replay itself.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

from url_pattern_algorithm_spark.functions.links import extract_normalize_udf
from url_pattern_algorithm_spark.kernel.rfc3986 import normalize_frontier_url
from url_pattern_algorithm_spark.operators.cuckoo import (
    build_cuckoo,
    cuckoo_maybe_seen,
    derive_cuckoo_nb,
    delete_from_cuckoos,
    seen_filter_cuckoo,
    update_cuckoos,
)
from url_pattern_algorithm_spark.operators.frontier import (
    bloom_maybe_seen,
    politeness_budgets,
    robots_filter,
    schedule_top_k,
    seen_filter,
    update_blooms,
)
from url_pattern_algorithm_spark.plans.crawl import (
    PENDING_COLS,
    fetch_doc_index_udf,
    read_seen,
)
from url_pattern_algorithm_spark.sources.catalog import Catalog

from perfbench.crawl_driver import churn_round, sample_seen
from perfbench.inputs import HOT_HOST

KERNEL_SAMPLE = 4000
SALTS = 16  # run_crawl's default salt count
CHURN_PCT = 5  # takedown / recrawl sample on a crawl without a churn round


def _timed(tracer, name, fn):
    t = time.perf_counter()
    with tracer.span(name):
        out = fn()
    return out, time.perf_counter() - t


def kernel_us_per_url(urls: list[str], passes: int = 5) -> float:
    """Median over ``passes`` of normalize_frontier_url's driver-side cost
    per URL on a fixed sample."""
    per = []
    for _ in range(passes):
        t = time.perf_counter()
        for u in urls:
            normalize_frontier_url(u)
        per.append((time.perf_counter() - t) / max(len(urls), 1) * 1e6)
    return statistics.median(per)


def replay_crawl(spark, tracer, wl, inp, root: str, res, ops) -> dict:
    """Per-layer values from replays on ``root``; a replay whose result
    disagrees with the crawl fails the latest operation in ``ops``. On a
    bloom crawl the cuckoo layer is replayed on a filter built from the
    same seen state, and a checked takedown/recrawl round
    (``crawl_driver.churn_round``) runs after the crawl, so every prefilter
    and churn layer is measured."""
    cfg = wl.cfg
    scheduled_n = res.counts[cfg.iterations]
    cat = Catalog(spark, root)
    with open(os.path.join(root, "_run_meta.json")) as f:
        meta = json.load(f)
    n_buckets = int(meta["bloom_buckets"])
    kind = meta["prefilter_kind"]
    last = cfg.iterations
    prev = last - 1
    m: dict[str, float] = {}

    docs = inp.docs.withColumn(
        "doc_index", F.col("doc_id").substr(F.lit(4), F.lit(10)).cast("long"))
    sched = cat.read(f"scheduled_{last}").select(*PENDING_COLS)
    pages = (sched.withColumn("doc_index",
                              fetch_doc_index_udf(cfg.n_docs)(F.col("url_hash")))
             .join(docs, "doc_index", "inner").select("spans").persist())
    n_pages = pages.count()

    def extract():
        links = (pages.select(F.explode(extract_normalize_udf(F.col("spans")))
                              .alias("l"))
                 .select("l.url", "l.url_canon", "l.host").persist())
        return links, links.count()

    (links, n_links), wall = _timed(
        tracer, "replay.functions.links.extract_normalize", extract)
    m["functions.links.extract_normalize.links"] = n_links
    m["functions.links.extract_normalize.docs"] = n_pages
    m["functions.links.extract_normalize.links_per_s"] = n_links / wall
    distinct_raw = links.select("url").distinct().count()
    m["functions.links.repeat_share"] = 1 - distinct_raw / max(n_links, 1)
    sample = [r[0] for r in links.select("url").orderBy("url")
              .limit(KERNEL_SAMPLE).collect()]
    m["kernel.normalize.us_per_url"] = kernel_us_per_url(sample)

    cand = (links.filter(F.col("url_canon").isNotNull())
            .withColumn("url_hash", F.xxhash64("url_canon")).persist())
    n_cand = cand.count()
    pages.unpersist()

    def robots():
        out = robots_filter(cand, inp.robots,
                            longest_match=cfg.robots_mode == "longest_match"
                            ).persist()
        return out, out.count()

    (allowed, n_allowed), wall = _timed(
        tracer, "replay.operators.frontier.robots_filter", robots)
    m["operators.frontier.robots_filter.wall_s"] = wall
    m["operators.frontier.robots_filter.pass_share"] = n_allowed / max(n_cand, 1)

    seen = read_seen(cat, prev).select("url_hash")
    if kind == "cuckoo":
        flt = cat.read(f"cuckoo_{prev}").select("bucket", "nb", "table", "stash")
        filt, tag, layer = seen_filter_cuckoo, cuckoo_maybe_seen, \
            "operators.cuckoo.seen_filter_cuckoo"
    else:
        flt = cat.read(f"bloom_{prev}").select("bucket", "m_bits", "bitmap")
        filt, tag, layer = seen_filter, bloom_maybe_seen, \
            "operators.frontier.seen_filter"

    def seen_probe():
        out = filt(allowed, seen, flt, n_buckets).persist()
        return out, out.count()

    (new, n_new), wall = _timed(tracer, "replay." + layer, seen_probe)
    m[layer + ".wall_s"] = wall
    tagged = tag(allowed, flt, n_buckets).persist()
    maybe = tagged.filter("maybe_seen")
    n_maybe = maybe.count()
    n_fp = maybe.join(seen, "url_hash", "left_anti").count()
    n_unseen = allowed.join(seen, "url_hash", "left_anti").count()
    m[layer + ".maybe_seen_share"] = n_maybe / max(n_allowed, 1)
    m[layer + ".fp_rate"] = n_fp / max(n_unseen, 1)
    if n_new != n_unseen:
        ops.fail(f"{layer} replay kept {n_new} candidates, the exact "
                 f"anti-join {n_unseen}")
    tagged.unpersist()

    delta = new.select("url_hash").distinct()
    if kind == "bloom":
        m_bits = int(meta["bloom_m_bits"])
        _, m["operators.frontier.update_blooms.wall_s"] = _timed(
            tracer, "replay.operators.frontier.update_blooms",
            lambda: update_blooms(flt, delta, n_buckets, m_bits).count())
        nb = derive_cuckoo_nb(cfg.n_docs, n_buckets)
        flt = build_cuckoo(seen, n_buckets, nb=nb).persist()
        flt.count()
        layer = "operators.cuckoo.seen_filter_cuckoo"
        _, m[layer + ".wall_s"] = _timed(
            tracer, "replay." + layer,
            lambda: seen_filter_cuckoo(allowed, seen, flt, n_buckets).count())
        maybe = cuckoo_maybe_seen(allowed, flt, n_buckets).filter(
            "maybe_seen").persist()
        m[layer + ".maybe_seen_share"] = maybe.count() / max(n_allowed, 1)
        m[layer + ".fp_rate"] = maybe.join(
            seen, "url_hash", "left_anti").count() / max(n_unseen, 1)
        maybe.unpersist()
        takedown = [h for h, _ in sample_seen(cat, last, wl.seed, 1,
                                              CHURN_PCT)]
    else:
        nb = int(meta["cuckoo_nb"])
        takedown = sorted(res.churn.takedown)
    _, m["operators.cuckoo.update_cuckoos.wall_s"] = _timed(
        tracer, "replay.operators.cuckoo.update_cuckoos",
        lambda: update_cuckoos(flt, delta, n_buckets, nb).count())
    dels = spark.createDataFrame([(h,) for h in takedown], "url_hash long")
    _, m["operators.cuckoo.delete_from_cuckoos.wall_s"] = _timed(
        tracer, "replay.operators.cuckoo.delete_from_cuckoos",
        lambda: delete_from_cuckoos(flt, dels, n_buckets).count())
    m["operators.cuckoo.snapshot_bytes"] = flt.agg(
        F.sum(F.length("table") + F.length("stash"))).collect()[0][0] or 0
    for df in (new, allowed, cand, links):
        df.unpersist()
    if kind == "bloom":
        flt.unpersist()

    pending = cat.read(f"pending_{prev}").select(*PENDING_COLS).persist()
    n_pending = pending.count()
    host_state = cat.read(f"host_state_{prev}")
    _init, cap, refill = cfg.tokens
    budgets = politeness_budgets(host_state, refill, cap).persist()

    def schedule():
        frontier = pending.join(F.broadcast(budgets), "host", "inner")
        return schedule_top_k(frontier, F.col("budget"), salts=SALTS).count()

    n_sched, wall = _timed(
        tracer, "replay.operators.frontier.schedule_top_k", schedule)
    if n_sched != scheduled_n:
        ops.fail(f"schedule_top_k replay scheduled {n_sched}, "
                 f"iteration {last} scheduled {scheduled_n}")
    m["operators.frontier.schedule_top_k.wall_s"] = wall
    m["operators.frontier.schedule_top_k.pending_rows"] = n_pending
    top_salt = (pending.groupBy("host", F.pmod("url_hash", F.lit(SALTS)))
                .count().agg(F.max("count")).collect()[0][0] or 0)
    m["operators.frontier.schedule_top_k.max_salt_share"] = (
        top_salt / max(n_pending, 1))
    m["operators.frontier.politeness_budgets.hosts"] = budgets.count()
    m["operators.frontier.politeness_budgets.exhausted_hosts"] = (
        budgets.filter(F.col("budget") <= 0).count())
    m["workload.pending_hot_host_share"] = (
        pending.filter(F.col("host") == HOT_HOST).count() / max(n_pending, 1))
    m["workload.pending_per_batch"] = n_pending / max(scheduled_n, 1)
    budgets.unpersist()
    pending.unpersist()
    churn = res.churn or churn_round(spark, root, wl.seed, last, CHURN_PCT,
                                     ops, tracer)
    m["plans.crawl.unsee_urls.rows"] = churn.unseen
    m["plans.crawl.reenqueue_urls.rows"] = churn.reenqueued
    return m
