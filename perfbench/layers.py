"""Metric catalogue: every end-to-end and per-layer metric the benchmark
reports, with the layer -> end-to-end map. ``BENCHMARK.json`` lists the same
names (tests/test_harness.py pins that), and ``run.py --describe`` prints
the map.

A per-layer entry is (name, unit, better, moves, exercised_by, bypassed_by):
``moves`` names the end-to-end metrics the layer should move,
``exercised_by`` the workload where it does, ``bypassed_by`` one where the
layer does no work (its value there reads 0), or ``""``.
"""

from __future__ import annotations

WORKLOADS = {
    "crawl_links": "link-heavy crawl: bloom, any_disallow, compaction; time "
                   "goes to links extract+normalize and the candidate "
                   "pipeline while scheduling stays cheap",
    "crawl_churn": "frontier-heavy crawl of ~1k hosts with crawl delays, "
                   "longest_match robots, cuckoo prefilter and a "
                   "takedown/recrawl round; bypasses most UDF work",
    "learn_rules": "pattern-tree and rewrite-rule learning pass over a "
                   "link-grammar corpus; no crawl state",
}

# The workloads BENCHMARK.json lists. crawl_churn is left out of that list:
# one crawl pass costs ~60-80 s of fixed Spark job and Python worker
# overhead on a 4-vCPU box, and each listed workload is run 22 times (plus
# 4 runs) within a 3420 s budget. It stays runnable by name and in
# ``--workload all``; its layers (cuckoo filter, unsee/reenqueue) are
# replayed on crawl_links' checkpoint tables in the traced run.
BENCHMARK_WORKLOADS = ["crawl_links", "learn_rules"]

# name, unit, better, bound, meaning per workload. Bounds were set on a
# 4-vCPU box shared with other tenants, from sets of ten seeds per
# workload: the IQR/median of the time metrics was 0.07-0.21 there (load
# from other tenants drifts over minutes), so they get the largest allowed
# bound; checkpoint size stayed within 0.01.
#
# peak_rss_mb is a per-layer metric, not one of these: with the program's
# own live 8g G1 heap, the JVM's resident size follows G1's GC-time-driven
# heap expansion, and its IQR/median over ten seeds was 0.19-0.32, above
# the largest bound an end-to-end metric may have. Pinning the heap made it
# steady only by hiding the program's heap use.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "process start -> session up, plus the median (mean) of two input "
     "generate+cache passes"),
    ("urls_per_s", "URLs/s", "higher", 0.25,
     "crawl_*: scheduled URLs / summed wall of the public crawl calls; "
     "learn_rules: canonical URLs / learn-pass wall"),
    ("iteration_s_p50", "s", "lower", 0.25,
     "crawl_*: median run_iteration wall; learn_rules: median learn-pass "
     "wall"),
    ("checkpoint_mb", "MiB", "lower", 0.1,
     "bytes under the checkpoint root at the end of a repetition "
     "(learn_rules: theme_page_plan's two tables)"),
    ("checkpoint_files", "count", "lower", 0.05,
     "files under the checkpoint root at the end of a repetition"),
]

_CL, _CC, _LR = "crawl_links", "crawl_churn", "learn_rules"
_U, _I, _CK = "urls_per_s", "iteration_s_p50", "checkpoint_mb"

PER_LAYER: list[tuple[str, str, str, tuple, str, str]] = [
    ("plans.crawl.init_state.wall_s", "s", "lower", (_U,), _CC, _LR),
    ("plans.crawl.run_iteration.jobs", "count", "lower", (_I,), _CC, _LR),
    ("plans.crawl.compact_seen.wall_s", "s", "lower", (_U,), _CL, _CC),
    ("plans.crawl.unsee_urls.wall_s", "s", "lower", (_U,), _CC, _LR),
    ("plans.crawl.unsee_urls.rows", "count", "higher", (_U,), _CC, _LR),
    ("plans.crawl.reenqueue_urls.wall_s", "s", "lower", (_U,), _CC, _LR),
    ("plans.crawl.reenqueue_urls.rows", "count", "higher", (_U,), _CC, _LR),
]
for _t, _ex in (("scheduled", _CC), ("seen", _CL), ("pending", _CC),
                ("host_state", _CC), ("prefilter", _CL)):
    for _q, _unit in (("wall_s", "s"), ("task_s", "s"), ("rows", "count"),
                      ("bytes", "bytes"), ("files", "count"),
                      ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
        _moves = ("checkpoint_mb", "checkpoint_files") \
            if _q in ("bytes", "files") else (_I,)
        PER_LAYER.append((f"sources.catalog.write.{_t}.{_q}", _unit,
                          "higher" if _q == "rows" else "lower", _moves,
                          _ex, _LR))
PER_LAYER += [
    ("sources.catalog.writers.overlap", "ratio", "higher", (_I,), _CL, _LR),
    ("sources.catalog.rewrite.seen.wall_s", "s", "lower", (_U,), _CC, _LR),
    ("sources.catalog.rewrite.seen.bytes", "bytes", "lower", (_U,), _CC, _LR),
    ("functions.links.extract_normalize.links_per_s", "links/s", "higher",
     (_U, _I), _CL, _CC),
    ("functions.links.extract_normalize.links", "count", "higher", (_U, _I),
     _CL, _LR),
    ("functions.links.extract_normalize.docs", "count", "higher", (_U, _I),
     _CL, _LR),
    ("functions.links.python_s", "s", "lower", (_U, _I), _CL, _CC),
    ("functions.links.repeat_share", "ratio", "higher", (_U, _I), _CL, _LR),
    ("kernel.normalize.us_per_url", "us", "lower", (_U,), _CL, ""),
    ("operators.frontier.robots_filter.wall_s", "s", "lower", (_I,), _CL, _LR),
    ("operators.frontier.robots_filter.pass_share", "ratio", "higher", (_I,),
     _CL, _LR),
    ("operators.frontier.seen_filter.wall_s", "s", "lower", (_I,), _CL, _CC),
    ("operators.frontier.seen_filter.maybe_seen_share", "ratio", "lower",
     (_I,), _CL, _CC),
    ("operators.frontier.seen_filter.fp_rate", "ratio", "lower", (_I,),
     _CL, _CC),
    ("operators.frontier.update_blooms.wall_s", "s", "lower", (_I,), _CL, _CC),
    ("operators.frontier.schedule_top_k.wall_s", "s", "lower", (_I,), _CC,
     _LR),
    ("operators.frontier.schedule_top_k.pending_rows", "count", "higher",
     (_I,), _CC, _LR),
    ("operators.frontier.schedule_top_k.max_salt_share", "ratio", "lower",
     (_I,), _CC, _LR),
    ("operators.frontier.politeness_budgets.hosts", "count", "higher", (_I,),
     _CC, _LR),
    ("operators.frontier.politeness_budgets.exhausted_hosts", "count",
     "higher", (_I,), _CC, _LR),
    ("operators.cuckoo.seen_filter_cuckoo.wall_s", "s", "lower", (_U, _CK),
     _CC, _LR),
    ("operators.cuckoo.seen_filter_cuckoo.maybe_seen_share", "ratio", "lower",
     (_U, _CK), _CC, _LR),
    ("operators.cuckoo.seen_filter_cuckoo.fp_rate", "ratio", "lower",
     (_U, _CK), _CC, _LR),
    ("operators.cuckoo.update_cuckoos.wall_s", "s", "lower", (_U, _CK), _CC,
     _LR),
    ("operators.cuckoo.delete_from_cuckoos.wall_s", "s", "lower", (_U, _CK),
     _CC, _LR),
    ("operators.cuckoo.snapshot_bytes", "bytes", "lower", (_U, _CK), _CC, _LR),
    ("functions.udfs.normalize_url_udf.wall_s", "s", "lower", (_U,), _LR, _CC),
    ("functions.udfs.normalize_url_udf.urls_per_s", "URLs/s", "higher", (_U,),
     _LR, _CC),
    ("operators.aggregates.key_entropy.wall_s", "s", "lower", (_U,), _LR, _CC),
    ("operators.pattern_tree.build_trees.wall_s", "s", "lower", (_U,), _LR,
     _CC),
    ("operators.pattern_tree.build_trees.nodes", "count", "higher", (_U,),
     _LR, _CC),
    ("operators.pattern_tree.build_trees.max_host_share", "ratio", "lower",
     (_U,), _LR, _CC),
    ("operators.pattern_tree.leaf_alternations.wall_s", "s", "lower", (_U,),
     _LR, _CC),
    ("plans.theme_pages.theme_page_plan.wall_s", "s", "lower", (_U,), _LR,
     _CC),
    ("operators.rewrite.learn_rules.wall_s", "s", "lower", (_U,), _LR, _CC),
    ("operators.rewrite.learn_rules.rules", "count", "higher", (_U,), _LR,
     _CC),
    ("operators.rewrite.apply_rules.wall_s", "s", "lower", (_U,), _LR, _CC),
    ("operators.rewrite.compression_ratio", "ratio", "lower", (_U,), _LR,
     _CC),
    ("session.get_spark.wall_s", "s", "lower", ("setup_s",), _CL, ""),
    # summed PSS of driver, JVM and Python workers, sampled every 0.2 s over
    # the traced workload's set-up and pass
    ("peak_rss_mb", "MiB", "lower", (), _CL, ""),
    ("sources.synthetic.generate_s", "s", "lower", ("setup_s",), _CL, ""),
]
for _q, _unit in (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                  ("jvm_cpu_s", "s"), ("shuffle_bytes", "bytes"),
                  ("spill_bytes", "bytes"), ("failed_tasks", "count"),
                  ("busy_share", "ratio")):
    PER_LAYER.append((f"spark.{_q}", _unit,
                      "higher" if _q == "busy_share" else "lower",
                      ("setup_s", _U, _I) if _q != "failed_tasks" else (_U,),
                      _CL, ""))
PER_LAYER += [
    ("workload.pending_hot_host_share", "ratio", "lower", (_I,), _CL, _LR),
    ("workload.pending_per_batch", "ratio", "lower", (_I,), _CC, _LR),
    ("workload.fetched_docs_per_iteration", "count", "higher", (_U, _I), _CL,
     _LR),
    ("trace.overhead_share", "ratio", "lower", (_U, _I), _CL, ""),
]

PER_LAYER_NAMES = [p[0] for p in PER_LAYER]

# Modules the benchmark deliberately leaves unmeasured: they sit off the
# frontier and rule-learning paths, and no query family is measured this
# round. A workload for one of them comes before any optimisation of it.
UNMEASURED = ["operators.dedup", "operators.similarity", "operators.textstats",
              "operators.multimodal", "streaming"]
