"""Harness-fidelity tests for the benchmark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, layers  # noqa: E402
from perfbench.spans import Span, self_times, span_id_of_tag  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures")


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, None, "iteration", 0.0, 10.0),
        # two concurrent writers overlapping on [3, 4]: covered once
        Span(2, 1, "write.a", 2.0, 4.0),
        Span(3, 1, "write.b", 3.0, 5.0),
        # a child running past its parent is clipped to the parent
        Span(4, 1, "write.c", 9.0, 12.0),
        Span(5, 2, "inner", 2.5, 3.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[2] == pytest.approx(2.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(0.5)


def test_span_tag_round_trip():
    s = Span(42, None, "sources.catalog.write.seen", 0.0, 1.0)
    assert span_id_of_tag(s.tag) == 42
    assert span_id_of_tag(None) is None
    assert span_id_of_tag("Listing leaf files") is None


def test_eventlog_parser_on_rolling_fixture():
    log = eventlog.parse(os.path.join(FIXTURE, "eventlog_v2_local-1"))
    tagged = "pb:7:sources.catalog.write.seen"
    assert log.jobs == {tagged: 1, None: 1}
    jobs, t = log.totals(lambda d: span_id_of_tag(d) == 7)
    assert jobs == 1
    assert t.tasks == 3
    assert t.failed_tasks == 1
    assert t.task_s == pytest.approx(3.0)
    assert t.jvm_cpu_s == pytest.approx(1.0)
    assert t.shuffle_bytes == 1000
    assert t.spill_bytes == 64
    jobs, t = log.totals(lambda d: d is None)
    assert (jobs, t.tasks, t.task_s) == (1, 1, pytest.approx(0.1))


def test_same_seed_same_inputs():
    for cfg in (inputs.CRAWL_LINKS, inputs.CRAWL_CHURN):
        assert inputs.seed_rows(cfg, 3) == inputs.seed_rows(cfg, 3)
        assert inputs.seed_rows(cfg, 3) != inputs.seed_rows(cfg, 4)
    assert (inputs.learn_corpus(inputs.LEARN, 5)
            == inputs.learn_corpus(inputs.LEARN, 5))
    assert (inputs.learn_corpus(inputs.LEARN, 5)
            != inputs.learn_corpus(inputs.LEARN, 6))


def test_page_cluster_labels_duplicate_forms_together():
    a = inputs.page_cluster("http://site1.example.com/cat/news/12")
    b = inputs.page_cluster("http://site1.example.com/view?c=40&cat=news")
    assert a == b == "site1.example.com|news"
    assert inputs.page_cluster("http://site1.example.com/list/page3.html") \
        is None


def test_benchmark_json_lists_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == \
        [e[0] for e in layers.END_TO_END]
    assert [m["name"] for m in bench["per_layer"]] == layers.PER_LAYER_NAMES
    assert [w["name"] for w in bench["workloads"]] == \
        layers.BENCHMARK_WORKLOADS
    for m, e in zip(bench["end_to_end"], layers.END_TO_END):
        assert (m["unit"], m["better"], m["bound"]) == e[1:4]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    from url_pattern_algorithm_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_seed_zero_docs_are_the_synthetic_docs(spark):
    from url_pattern_algorithm_spark.sources.synthetic import docs_df

    ours = inputs.docs_frame(spark, 50, 6, seed=0, partitions=2)
    assert sorted(ours.collect()) == sorted(docs_df(spark, 50, 6).collect())
    other = inputs.docs_frame(spark, 50, 6, seed=1, partitions=2)
    assert sorted(other.collect()) != sorted(ours.collect())


def test_crawl_driver_reproduces_the_oracle(spark, tmp_path):
    """At oracle scale (default Politeness, sources.synthetic docs, bloom,
    any_disallow) the benchmark's crawl driver schedules exactly the
    oracle's batches and ends with the oracle's seen set."""
    from url_pattern_algorithm_spark.kernel.crawl_oracle import (
        run_oracle_crawl,
    )
    from url_pattern_algorithm_spark.sources.synthetic import robots_rules

    from perfbench import crawl_driver

    cfg = inputs.CrawlConfig(
        n_docs=300, n_hosts=5, seeds_per_host=6, hot_seed_factor=2,
        tokens=(2.0, 4.0, 1.0), iterations=3, compact_every=2,
        prefilter="bloom", robots_mode="any_disallow",
        with_delays=False, with_allow=False)
    inp = crawl_driver.make_inputs(spark, cfg, seed=0, partitions=2)
    ops = crawl_driver.Ops()
    root = str(tmp_path / "ckpt")
    res = crawl_driver.run_once(spark, inp, cfg, 0, root, ops)
    crawl_driver.check(spark, cfg, root, res, ops)
    assert ops.failed == 0, ops.errors
    oracle = run_oracle_crawl(inp.seed_rows, robots_rules(cfg.n_hosts),
                              cfg.n_docs, cfg.n_hosts, cfg.iterations)
    from url_pattern_algorithm_spark.sources.catalog import Catalog

    cat = Catalog(spark, root)
    for it in range(1, cfg.iterations + 1):
        got = [(r["url_hash"], r["sched_rank"]) for r in
               cat.read(f"scheduled_{it}").orderBy("host", "sched_rank")
               .collect()]
        want = [(r[2], r[6]) for r in oracle.scheduled[it]]
        assert got == want, f"iteration {it}"
        assert res.counts[it] == len(want) > 0
    from url_pattern_algorithm_spark.plans.crawl import read_seen

    seen = {(r[0], r[1]) for r in read_seen(cat, cfg.iterations)
            .select("url_hash", "first_iter").collect()}
    assert seen == set(oracle.seen.items())


def test_churn_round_checks_the_returned_row_counts(spark, tmp_path,
                                                    monkeypatch):
    """churn_round compares unsee_urls' and reenqueue_urls' returns with
    the rows gone from seen / added to pending, and fails the call's
    operation when they differ."""
    from url_pattern_algorithm_spark.plans import crawl

    from perfbench import crawl_driver

    cfg = inputs.CrawlConfig(
        n_docs=300, n_hosts=5, seeds_per_host=6, hot_seed_factor=2,
        tokens=(2.0, 4.0, 1.0), iterations=1, compact_every=0,
        prefilter="bloom", robots_mode="any_disallow",
        with_delays=False, with_allow=False)
    inp = crawl_driver.make_inputs(spark, cfg, seed=0, partitions=2)
    ops = crawl_driver.Ops()
    root = str(tmp_path / "ckpt")
    crawl_driver.run_once(spark, inp, cfg, 0, root, ops)
    ch = crawl_driver.churn_round(spark, root, 3, 1, 50, ops)
    assert ops.failed == 0, ops.errors
    assert ch.unseen > 0 and ch.reenqueued > 0
    assert ops.attempted == 3

    monkeypatch.setattr(crawl_driver, "unsee_urls",
                        lambda *a: crawl.unsee_urls(*a) + 1)
    crawl_driver.churn_round(spark, root, 1, 1, 50, ops)
    assert ops.failed_ops == {4}
    assert ops.errors[0].startswith("unsee_urls returned")
