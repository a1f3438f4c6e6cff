"""Seeded benchmark inputs.

Everything a workload feeds the program is derived here from the workload
seed: the seed list, the doc contents behind each ``doc_index``, the churn
samples and the learn corpus. The program only ever receives the generated
frames. Seed 0 reproduces ``sources.synthetic.docs_df`` exactly, which is
what lets the harness tests compare the crawl driver with the pure-python
oracle.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

import pandas as pd

from url_pattern_algorithm_spark.sources.synthetic import (
    DOCS_SCHEMA,
    _link,
    gen_doc,
    host_of,
)

# doc i of a seeded corpus holds the content of synthetic doc i + seed * STRIDE
DOC_STRIDE = 1_000_003
HOT_HOST = "site0.example.com"


@dataclass(frozen=True)
class CrawlConfig:
    """One crawl workload's shape; ``tokens`` are the
    ``plans.crawl.Politeness`` arguments (tokens_init, tokens_cap, refill)."""

    n_docs: int
    n_hosts: int
    seeds_per_host: int
    hot_seed_factor: int
    tokens: tuple[float, float, float]
    iterations: int
    compact_every: int
    prefilter: str
    robots_mode: str
    with_delays: bool
    with_allow: bool
    churn_after: int = 0        # iterations before the unsee/reenqueue round
    churn_pct: int = 0          # percent of seen URLs in each churn sample


# Link-heavy: few hosts (the hot host holds ~50/57 of the docs), budgets
# large enough that an iteration fetches >10k docs, pending ~3x the batch.
# Every host keeps more than two budgets of seeds after the robots filter,
# so both iterations schedule exactly n_hosts x budget URLs on any seed.
CRAWL_LINKS = CrawlConfig(
    n_docs=20_000, n_hosts=8, seeds_per_host=3_600, hot_seed_factor=4,
    tokens=(1_400.0, 1_400.0, 1_400.0), iterations=2, compact_every=2,
    prefilter="bloom", robots_mode="any_disallow",
    with_delays=False, with_allow=False,
)

# Frontier-heavy: ~1k hosts, budget <= 2 per host with crawl delays, so the
# batch is ~1k URLs against a 64k-URL seed frontier; one takedown + recrawl
# round between the two iterations.
CRAWL_CHURN = CrawlConfig(
    n_docs=4_000, n_hosts=1_024, seeds_per_host=64, hot_seed_factor=1,
    tokens=(1.0, 2.0, 1.0), iterations=2, compact_every=0,
    prefilter="cuckoo", robots_mode="longest_match",
    with_delays=True, with_allow=True, churn_after=1, churn_pct=5,
)


@dataclass(frozen=True)
class LearnConfig:
    n_docs: int
    n_hosts: int
    links_per_doc: int


# 8k docs x 8 links on 64 hosts: 64k raw links. A run's pass is the
# session's first, so ~20 s of it is fixed cold-start and per-job cost and
# per-URL layer work is the smaller part. The learn layers were sized on
# 400k links, but a run on that corpus (~70 s on 4 vCPUs) does not fit the
# benchmark's run-time budget (22 runs per workload in under an hour) next
# to crawl_links. See README.md.
LEARN = LearnConfig(n_docs=8_000, n_hosts=64, links_per_doc=8)


def doc_offset(seed: int) -> int:
    return seed * DOC_STRIDE


def docs_frame(spark, n_docs: int, n_hosts: int, seed: int,
               partitions: int):
    """Distributed docs table: ``doc{i:010d}`` carries synthetic doc
    ``i + doc_offset(seed)``'s spans (seed 0 == sources.synthetic.docs_df)."""
    off = doc_offset(seed)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({
                "doc_id": [f"doc{i:010d}" for i in ids],
                "spans": [gen_doc(int(i) + off, n_hosts)[1] for i in ids],
            })

    return spark.range(n_docs, numPartitions=partitions).mapInPandas(
        gen, DOCS_SCHEMA)


def seed_rows(cfg: CrawlConfig, seed: int) -> list[tuple[str, float]]:
    """Seed list: link-grammar URLs per host (the hot host gets
    ``hot_seed_factor`` times more), seeded priorities in [0, 1)."""
    rng = random.Random(seed)
    rows = []
    for h in range(cfg.n_hosts):
        host = f"site{h}.example.com"
        n = cfg.seeds_per_host * (cfg.hot_seed_factor if h == 0 else 1)
        for k in range(n):
            rows.append((_link(rng.getrandbits(40), k, host),
                         rng.randrange(1000) / 1000.0))
    return rows


_PATH_FORM = re.compile(r"^http://([^/]+)/cat/([a-z]+)/(\d+)$")
_QUERY_FORM = re.compile(r"^http://([^/]+)/view\?c=(\d+)&cat=([a-z]+)$")


def page_cluster(url_canon: str) -> str | None:
    """Duplicate-cluster label from the generator's page identity: the
    path form ``/cat/{cat}/{id}``, the query form ``/view?c={id}&cat={cat}``
    and the session-noise variants (canonicalized to the path form) of a
    category share one cluster per host. Other forms have none."""
    m = _PATH_FORM.match(url_canon)
    if m:
        return f"{m.group(1)}|{m.group(2)}"
    m = _QUERY_FORM.match(url_canon)
    if m:
        return f"{m.group(1)}|{m.group(3)}"
    return None


def learn_corpus(cfg: LearnConfig, seed: int) -> list[tuple[str, str]]:
    """(host, raw url) rows from the link grammar: docs of a seeded index
    range, ``links_per_doc`` links each, on the doc's (skewed) host."""
    off = doc_offset(seed)
    rows = []
    for i in range(off, off + cfg.n_docs):
        host = host_of(i, cfg.n_hosts)
        for k in range(cfg.links_per_doc):
            rows.append((host, _link(i, k, host)))
    return rows
