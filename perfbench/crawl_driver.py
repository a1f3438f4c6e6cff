"""Crawl workloads: drive ``plans.crawl`` through its public calls, then
check and digest what it wrote.

One repetition is one whole crawl into a fresh checkpoint root:

- ``crawl_links``: a single ``run_crawl`` (bloom, any_disallow, compaction);
- ``crawl_churn``: ``run_crawl`` for ``churn_after`` iterations, then
  ``unsee_urls`` (takedown) and ``reenqueue_urls`` (recrawl) on seeded
  samples of the seen set collected to the driver, then
  ``run_crawl(resume_from=...)`` for the remaining iterations.

Only the program's calls are timed; drawing the samples and the output
checks run between or after them.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import url_pattern_algorithm_spark.plans.crawl as crawl
from url_pattern_algorithm_spark.plans.crawl import (
    Politeness,
    read_seen,
    reenqueue_urls,
    unsee_urls,
)
from url_pattern_algorithm_spark.sources.catalog import Catalog
from url_pattern_algorithm_spark.sources.synthetic import robots_df

from perfbench.inputs import CrawlConfig, docs_frame, seed_rows

RUN_ID = "bench"
SAMPLE_SCHEMA = "url_hash long, url_canon string"


@dataclass
class CrawlInputs:
    docs: object
    seeds: object
    robots: object
    seed_rows: list


def make_inputs(spark, cfg: CrawlConfig, seed: int,
                partitions: int) -> CrawlInputs:
    """Generate and cache the crawl's inputs (one count materializes docs)."""
    docs = docs_frame(spark, cfg.n_docs, cfg.n_hosts, seed, partitions)
    docs = docs.persist()
    docs.count()
    rows = seed_rows(cfg, seed)
    seeds = spark.createDataFrame(rows, "url string, priority double")
    robots = robots_df(spark, cfg.n_hosts, cfg.with_delays, cfg.with_allow)
    return CrawlInputs(docs, seeds, robots, rows)


@dataclass
class Ops:
    """Public calls attempted by a workload, and the ones that failed: a
    call fails when it raises or when a check of its output fails."""

    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    errors: list = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def start(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, what: str, op: int | None = None) -> None:
        """Record a failure of operation ``op`` (default: the latest)."""
        self.errors.append(what)
        self.failed_ops.add(op if op is not None else self.attempted)


@dataclass
class Churn:
    """A takedown + recrawl round: the sampled url_hashes, the rows each
    call reported and each call's wall."""

    takedown: set
    recrawl: set
    unseen: int = 0
    reenqueued: int = 0
    wall: float = 0.0


@dataclass
class CrawlResult:
    counts: dict = field(default_factory=dict)
    op_wall: float = 0.0
    churn: Churn | None = None
    digests: dict = field(default_factory=dict)
    checkpoint_bytes: int = 0
    checkpoint_files: int = 0

    @property
    def scheduled(self) -> int:
        return sum(self.counts.values())


def call(ops: Ops, tracer, name: str, fn, *a, **k):
    """One public call of the program as an operation: counted, timed and,
    when traced, in a span named ``name``. Returns (result, op id, wall);
    a call that raises fails its operation and re-raises."""
    op_id = ops.start()
    t = time.perf_counter()
    try:
        if tracer is not None:
            with tracer.span(name):
                out = fn(*a, **k)
        else:
            out = fn(*a, **k)
    except Exception:
        ops.fail(name, op_id)
        raise
    return out, op_id, time.perf_counter() - t


def sample_seen(cat: Catalog, upto: int, seed: int, salt: int,
                pct: int) -> list:
    """Seeded sample of the seen set as of ``upto``, collected to the driver
    (the takedown / recrawl list arrives from outside the crawl)."""
    pick = F.pmod(F.xxhash64("url_hash", F.lit(seed), F.lit(salt)), F.lit(100))
    rows = (read_seen(cat, upto).filter(pick < pct)
            .select("url_hash", "url_canon").collect())
    return sorted((int(r[0]), r[1]) for r in rows)


def churn_round(spark, root: str, seed: int, upto: int, pct: int, ops: Ops,
                tracer=None) -> Churn:
    """After iteration ``upto``: ``unsee_urls`` on a seeded ``pct``% sample
    of seen (takedown), then ``reenqueue_urls`` on a second sample minus
    the takedown rows (recrawl). Each call's return must equal the rows it
    removed from seen / added to ``pending_{upto}``; a mismatch fails that
    call's operation."""
    cat = Catalog(spark, root)
    takedown = sample_seen(cat, upto, seed, 1, pct)
    dropped = set(takedown)
    recrawl = [r for r in sample_seen(cat, upto, seed, 2, pct)
               if r not in dropped]
    ch = Churn({h for h, _ in takedown}, {h for h, _ in recrawl})
    seen_before = cat.read("seen").count()
    ch.unseen, op_id, wall = call(
        ops, tracer, "plans.crawl.unsee_urls", unsee_urls, spark, root,
        spark.createDataFrame(takedown, SAMPLE_SCHEMA))
    ch.wall += wall
    gone = seen_before - cat.read("seen").count()
    if ch.unseen != gone:
        ops.fail(f"unsee_urls returned {ch.unseen}, seen lost {gone} rows",
                 op_id)
    pending = f"pending_{upto}"
    pend_before = cat.read(pending).count()
    ch.reenqueued, op_id, wall = call(
        ops, tracer, "plans.crawl.reenqueue_urls", reenqueue_urls, spark,
        root, spark.createDataFrame(recrawl, SAMPLE_SCHEMA))
    ch.wall += wall
    grew = cat.read(pending).count() - pend_before
    if ch.reenqueued != grew:
        ops.fail(f"reenqueue_urls returned {ch.reenqueued}, pending grew "
                 f"by {grew}", op_id)
    return ch


def run_once(spark, inp: CrawlInputs, cfg: CrawlConfig, seed: int,
             root: str, ops: Ops, tracer=None) -> CrawlResult:
    """One full crawl repetition into ``root``; op walls summed into
    ``op_wall``. Raises on a failed public call (the op is counted)."""
    res = CrawlResult()
    kw = dict(pol=Politeness(*cfg.tokens), compact_every=cfg.compact_every,
              robots_mode=cfg.robots_mode, prefilter_kind=cfg.prefilter,
              run_id=RUN_ID)

    def run_crawl(**k):
        counts, _op, wall = call(ops, tracer, "plans.crawl.run_crawl",
                                 crawl.run_crawl, spark, inp.docs, inp.seeds,
                                 inp.robots, root, cfg.n_docs, **kw, **k)
        res.counts.update(counts)
        res.op_wall += wall

    first = cfg.churn_after or cfg.iterations
    run_crawl(iterations=first)
    if cfg.churn_after:
        res.churn = churn_round(spark, root, seed, first, cfg.churn_pct, ops,
                                tracer)
        res.op_wall += res.churn.wall
        run_crawl(iterations=cfg.iterations, resume_from=first)
    res.checkpoint_bytes, res.checkpoint_files = tree_size(root)
    return res


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def check(spark, cfg: CrawlConfig, root: str, res: CrawlResult,
          ops: Ops) -> None:
    """Digest every scheduled batch and the final seen set, and check the
    crawl invariants; a violation fails the pass's last run_crawl call."""
    cat = Catalog(spark, root)
    last = cfg.iterations
    sched_all: dict[int, int] = {}
    _init, cap, refill = cfg.tokens
    for it in range(1, last + 1):
        rows = sorted(
            (int(r["url_hash"]), r["url_canon"], r["host"],
             int(r["sched_rank"]))
            for r in cat.read(f"scheduled_{it}").collect())
        res.digests[f"scheduled_{it}"] = digest(rows)
        if len(rows) != res.counts.get(it):
            ops.fail(f"scheduled_{it} holds {len(rows)} rows, run_crawl "
                     f"reported {res.counts.get(it)}")
        # budget: floor(min(cap, tokens + refill / crawl_delay)) of the
        # host state the iteration started from
        budget = {
            r["host"]: math.floor(min(cap, r["tokens"]
                                      + refill / r["crawl_delay"]))
            for r in cat.read(f"host_state_{it - 1}").collect()
        }
        per_host: dict[str, int] = {}
        for h, _c, host, _rank in rows:
            per_host[host] = per_host.get(host, 0) + 1
            sched_all[h] = sched_all.get(h, 0) + 1
        over = [hs for hs, n in per_host.items() if n > budget.get(hs, 0)]
        if over:
            ops.fail(f"iteration {it}: {len(over)} hosts over budget")
    seen = sorted((int(r[0]), int(r[1])) for r in read_seen(cat, last)
                  .select("url_hash", "first_iter").collect())
    res.digests["seen"] = digest(seen)
    ch = res.churn or Churn(set(), set())
    allowed_twice = ch.recrawl | ch.takedown
    twice = [h for h, n in sched_all.items() if n > 1 and h not in allowed_twice]
    if twice:
        ops.fail(f"{len(twice)} url_hashes scheduled twice without a recrawl")
    seen_set = {h for h, _ in seen}
    missing = [h for h in sched_all if h not in seen_set
               and h not in ch.takedown]
    if missing:
        ops.fail(f"{len(missing)} scheduled url_hashes missing from seen")
