"""The learn_rules workload: the paper's learning pass through public layer
functions, on a seed-generated corpus from the synthetic link grammar.

One repetition runs every step on the cached raw corpus and forces each
step's output with one action, so each step's wall is its own work:

normalize_url_udf -> explode_kv + key_entropy -> build_trees(sort_urls)
-> leaf_alternations -> theme_page_plan (writing its two checkpoint
tables) -> learn_rules on generator-labelled duplicate clusters ->
apply_rules + compression_metric.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from url_pattern_algorithm_spark.functions.udfs import normalize_url_udf
from url_pattern_algorithm_spark.operators.aggregates import (
    explode_kv,
    key_entropy,
)
from url_pattern_algorithm_spark.operators.pattern_tree import (
    build_trees,
    leaf_alternations,
)
from url_pattern_algorithm_spark.operators.rewrite import (
    apply_rules,
    compression_metric,
    learn_rules,
)
from url_pattern_algorithm_spark.plans.theme_pages import theme_page_plan
from url_pattern_algorithm_spark.session import release_persisted
from url_pattern_algorithm_spark.sources.catalog import Catalog

from perfbench.crawl_driver import Ops, call, digest, tree_size
from perfbench.inputs import HOT_HOST, LearnConfig, learn_corpus, page_cluster

CLUSTER_SCHEMA = "host string, cluster_id string, url string"


def make_inputs(spark, cfg: LearnConfig, seed: int, partitions: int):
    """Cached raw (host, url) corpus."""
    rows = learn_corpus(cfg, seed)
    df = spark.createDataFrame(rows, "host string, url string")
    df = df.repartition(partitions).persist()
    df.count()
    return df


@dataclass
class LearnResult:
    steps: dict = field(default_factory=dict)     # step -> wall seconds
    op_ids: dict = field(default_factory=dict)    # step -> Ops operation
    counts: dict = field(default_factory=dict)
    digests: dict = field(default_factory=dict)
    canon_urls: int = 0
    checkpoint_bytes: int = 0
    checkpoint_files: int = 0

    @property
    def wall(self) -> float:
        return sum(self.steps.values())


def run_once(spark, corpus, root: str, ops: Ops, tracer=None) -> LearnResult:
    res = LearnResult()

    def step(name, fn):
        out, res.op_ids[name], res.steps[name] = call(ops, tracer, name, fn)
        return out

    def normalize():
        canon = (corpus.withColumn("url_canon", normalize_url_udf("url"))
                 .filter(F.col("url_canon").isNotNull()).persist())
        res.counts["rows"] = canon.count()
        return canon

    canon = step("functions.udfs.normalize_url_udf", normalize)
    urls = canon.select("host", F.col("url_canon").alias("url")).distinct()

    def entropy():
        return key_entropy(explode_kv(urls)).collect()

    ent = step("operators.aggregates.key_entropy", entropy)
    res.counts["entropy_keys"] = len(ent)

    def trees():
        nodes = build_trees(urls, sort_urls=True).persist()
        res.counts["nodes"] = nodes.count()
        return nodes

    nodes = step("operators.pattern_tree.build_trees", trees)
    alts = step("operators.pattern_tree.leaf_alternations",
                lambda: leaf_alternations(nodes).collect())
    res.digests["nodes"] = digest(sorted(
        (r["host"], r["node_id"], r["parent_id"], r["pattern"],
         r["url_count"]) for r in nodes.select(
            "host", "node_id", "parent_id", "pattern", "url_count").collect()))
    # a host without alternations has patterns None
    res.digests["alternations"] = digest(sorted(
        ((r["host"], r["patterns"]) for r in alts), key=repr))
    nodes.unpersist()

    def theme():
        cat = Catalog(spark, root)
        _classified, theme_alts = theme_page_plan(spark, urls, cat=cat)
        return theme_alts.count()

    res.counts["theme_hosts"] = step("plans.theme_pages.theme_page_plan", theme)

    canon_rows = canon.select("host", "url_canon").distinct().collect()
    res.canon_urls = len(canon_rows)
    res.counts["max_host_share"] = sum(
        1 for r in canon_rows if r[0] == HOT_HOST) / max(len(canon_rows), 1)
    labelled = [(h, cid, u) for h, u in canon_rows
                if (cid := page_cluster(u)) is not None]
    clusters = spark.createDataFrame(labelled, CLUSTER_SCHEMA)

    def learn():
        rules = learn_rules(clusters).persist()
        rows = rules.collect()
        return rules, rows

    rules, rule_rows = step("operators.rewrite.learn_rules", learn)
    res.counts["rules"] = len(rule_rows)
    res.digests["rules"] = digest(sorted(
        (r["host"], r["rule_id"], r["pattern"], r["rule"]) for r in rule_rows))

    def apply():
        rewritten = apply_rules(spark, clusters.select("host", "url"), rules)
        return compression_metric(rewritten).collect()

    comp = step("operators.rewrite.apply_rules", apply)
    n_urls = sum(r["n_urls"] for r in comp)
    res.counts["compression_ratio"] = (
        sum(r["n_rewritten"] for r in comp) / n_urls if n_urls else 1.0)
    rules.unpersist()
    canon.unpersist()
    release_persisted()
    res.checkpoint_bytes, res.checkpoint_files = tree_size(root)
    return res


def check(res: LearnResult, ops: Ops) -> None:
    """Output checks, each failing the step whose output it reads: every
    step produced output, and the learned rules compress the labelled
    duplicate clusters."""
    for what, step in (("nodes", "operators.pattern_tree.build_trees"),
                       ("rules", "operators.rewrite.learn_rules"),
                       ("theme_hosts", "plans.theme_pages.theme_page_plan"),
                       ("entropy_keys", "operators.aggregates.key_entropy")):
        if not res.counts.get(what):
            ops.fail(f"learn pass produced no {what}", res.op_ids[step])
    if not res.counts.get("compression_ratio", 1.0) < 1.0:
        ops.fail("learned rules do not compress the duplicate clusters "
                 f"(ratio {res.counts.get('compression_ratio')})",
                 res.op_ids["operators.rewrite.apply_rules"])
