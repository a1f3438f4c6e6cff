"""Repository benchmark: seeded crawl_links, crawl_churn and learn_rules
workloads on ``local[$(nproc)]``.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. Inputs come from ``--seed`` only. A run sets
up (session + inputs), then repeats whole workload passes until ``--seconds``
is used up (at least one), checks every pass's outputs, prints every metric
with unit, sample count, median and quartiles, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics (and keeps them, with the digests, for the traced run of
the same seed); ``--trace 1`` runs one traced pass in a session with Spark's
event log on, replays single layers on its checkpoint tables, writes the
span file and reports the per-layer metrics plus the tracing overhead
against the untraced run. A failed check or operation makes the
exit code 1. ``--describe`` prints the layer -> end-to-end map.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "url_pattern_algorithm_spark"
WORKLOAD_NAMES = ("crawl_links", "crawl_churn", "learn_rules")
SETUP_REPS = 2  # each pass adds 2-5 s to every run


def summary(values: list[float]) -> dict:
    """n, median and quartiles (statistics.quantiles; n < 2 repeats the
    single value)."""
    vals = [float(v) for v in values]
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
    else:
        q1 = q3 = med = vals[0] if vals else 0.0
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3}


def print_metric(name: str, unit: str, values: list[float]) -> None:
    s = summary(values)
    print(f"  {name:<58} {s['median']:>14.6g} {unit:<8} n={s['n']:<3} "
          f"q1={s['q1']:.6g} q3={s['q3']:.6g}")


class Session:
    """The run's one Spark session: ``local[$(nproc)]``, every scratch path
    inside ``work``, the program's own ``get_spark`` defaults otherwise (the
    driver heap included). :meth:`close` stops the context;
    :func:`shutdown_jvm` then stops the JVM."""

    def __init__(self, work: str, cores: int, event_dir: str | None = None):
        from url_pattern_algorithm_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_dir:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_dir,
                         "spark.eventLog.compress": "false"})
        t = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores}]",
                               shuffle_partitions=cores, extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway, wait for the JVM to exit, then for every
    process it had started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from perfbench.rss import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    started = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Workload:
    """Uniform driver over the three workloads."""

    def __init__(self, name: str, seed: int, cores: int):
        from perfbench import inputs

        self.name, self.seed, self.cores = name, seed, cores
        self.cfg = {"crawl_links": inputs.CRAWL_LINKS,
                    "crawl_churn": inputs.CRAWL_CHURN,
                    "learn_rules": inputs.LEARN}[name]
        self.is_crawl = name != "learn_rules"

    def make_inputs(self, spark):
        if self.is_crawl:
            from perfbench import crawl_driver

            return crawl_driver.make_inputs(spark, self.cfg, self.seed,
                                            self.cores)
        from perfbench import learn_driver

        return learn_driver.make_inputs(spark, self.cfg, self.seed, self.cores)

    def release_inputs(self, inp) -> None:
        (inp.docs if self.is_crawl else inp).unpersist()

    def run_once(self, spark, inp, root, ops, tracer=None):
        """One checked pass -> (result, units, wall)."""
        if self.is_crawl:
            from perfbench import crawl_driver

            res = crawl_driver.run_once(spark, inp, self.cfg, self.seed, root,
                                        ops, tracer)
            crawl_driver.check(spark, self.cfg, root, res, ops)
            return res, res.scheduled, res.op_wall
        from perfbench import learn_driver

        res = learn_driver.run_once(spark, inp, root, ops, tracer)
        learn_driver.check(res, ops)
        return res, res.canon_urls, res.wall


def iteration_timer(tracer) -> None:
    """Span per run_iteration call (untraced runs record only this one)."""
    import url_pattern_algorithm_spark.plans.crawl as crawl

    tracer.patch(crawl, "run_iteration",
                 lambda a, k: "plans.crawl.run_iteration")


def timed_phase(wl: Workload, spark, inp, work: str, seconds: float,
                ops) -> dict:
    """Repeat checked passes until ``seconds`` are used (at least one; a
    pass starts only if the mean pass fits in the time left)."""
    from perfbench.spans import Tracer

    tracer = Tracer()
    if wl.is_crawl:
        iteration_timer(tracer)
    rates, results, digests = [], [], None
    t0 = time.perf_counter()
    try:
        while True:
            root = os.path.join(work, f"ckpt{len(results)}")
            res, units, wall = wl.run_once(spark, inp, root, ops)
            shutil.rmtree(root, ignore_errors=True)
            results.append(res)
            rates.append(units / wall)
            detail = getattr(res, "steps", None) or getattr(res, "counts", {})
            print(f"  pass {len(results)}: units={units} wall={wall:.3f}s "
                  + " ".join(f"{str(k).rsplit('.', 1)[-1]}={v:.4g}"
                             for k, v in detail.items()), flush=True)
            if digests is None:
                digests = res.digests
            elif res.digests != digests:
                ops.fail("a repeated pass printed another digest")
            used = time.perf_counter() - t0
            mean = used / len(results)
            if used + mean > seconds:
                break
    finally:
        tracer.restore()
    iters = [s.wall for s in tracer.spans
             if s.name == "plans.crawl.run_iteration"]
    return {"rates": rates, "results": results,
            "iteration_walls": iters if wl.is_crawl else
            [r.wall for r in results],
            "digests": digests}


def e2e_metrics(phase: dict, setup_s: float) -> dict:
    res = phase["results"]
    return {
        "setup_s": [setup_s],
        "urls_per_s": phase["rates"],
        "iteration_s_p50": phase["iteration_walls"],
        "checkpoint_mb": [r.checkpoint_bytes / 2**20 for r in res],
        "checkpoint_files": [r.checkpoint_files for r in res],
    }


def setup(wl: Workload, sess: Session, up_s: float):
    """Inputs generated and cached SETUP_REPS times; set-up time is
    ``up_s`` (session-up time, when this workload started the session)
    plus the median generate+cache pass."""
    gen, inp = [], None
    for _ in range(SETUP_REPS):
        if inp is not None:
            wl.release_inputs(inp)
        t = time.perf_counter()
        inp = wl.make_inputs(sess.spark)
        gen.append(time.perf_counter() - t)
    return inp, up_s + statistics.median(gen), statistics.median(gen)


def run_untraced(wl, sess, up_s, work, seconds, ops):
    """Set-up and timed phase -> (end-to-end values, digests, peak memory
    in MiB over both)."""
    from perfbench.rss import PeakRss

    rss = PeakRss().start()
    try:
        inp, setup_s, _gen = setup(wl, sess, up_s)
        try:
            phase = timed_phase(wl, sess.spark, inp, work, seconds, ops)
        finally:
            wl.release_inputs(inp)
    finally:
        rss.stop()
    return e2e_metrics(phase, setup_s), phase["digests"], rss.peak / 2**20


def run_traced(wl, sess, up_s, work, ops, first_span: int) -> dict:
    """One traced pass plus the replay probes. Returns the traced
    end-to-end values, the per-layer values measured so far (peak memory up
    to the end of the pass, before the replays, among them) and what
    :func:`layer_metrics` needs once the event log is complete."""
    from perfbench import probes
    from perfbench.rss import PeakRss
    from perfbench.spans import Tracer

    rss = PeakRss().start()
    try:
        inp, setup_s, gen_s = setup(wl, sess, up_s)
    except Exception:
        rss.stop()
        raise
    spark = sess.spark
    layer: dict[str, float] = {"session.get_spark.wall_s": sess.get_spark_s,
                               "sources.synthetic.generate_s": gen_s}
    tracer = Tracer(spark.sparkContext, run_id=f"{wl.name}-{wl.seed}",
                    first_id=first_span)
    try:
        root = os.path.join(work, "ckpt_traced")
        try:
            install_tracing(tracer)
            with tracer.span("workload." + wl.name) as top:
                res, units, wall = wl.run_once(spark, inp, root, ops, tracer)
        finally:
            tracer.restore()
            layer["peak_rss_mb"] = rss.stop() / 2**20
        iteration_walls = [s.wall for s in tracer.spans
                           if s.name == "plans.crawl.run_iteration"]
        traced = {"rates": [units / wall], "results": [res],
                  "iteration_walls": iteration_walls if wl.is_crawl
                  else [wall]}
        if wl.is_crawl:
            layer.update(probes.replay_crawl(spark, tracer, wl, inp, root,
                                             res, ops))
            layer["workload.fetched_docs_per_iteration"] = statistics.median(
                res.counts.values())
        else:
            sample = [r[0] for r in inp.select("url").orderBy("url")
                      .limit(probes.KERNEL_SAMPLE).collect()]
            layer["kernel.normalize.us_per_url"] = probes.kernel_us_per_url(
                sample)
        shutil.rmtree(root, ignore_errors=True)
    finally:
        wl.release_inputs(inp)
    return {"e2e": e2e_metrics(traced, setup_s), "layer": layer,
            "digests": res.digests, "tracer": tracer, "top": top, "res": res}


def ref_path(base: str, name: str, seed: int) -> str:
    """Where an untraced run keeps its end-to-end medians and digests for
    the traced run of the same workload and seed."""
    return os.path.join(base, f"e2e-{name}-s{seed}.json")


def report_traced(wl, run, log, base, seed, cores, ops) -> dict:
    """Print a traced workload's spans file, end-to-end values, tracing
    overhead and per-layer metrics; returns the per-layer JSON metrics."""
    from perfbench.layers import END_TO_END, PER_LAYER

    units = {e[0]: e[1] for e in END_TO_END}
    tracer = run["tracer"]
    layer = run["layer"]
    layer.update(layer_metrics(wl, tracer.spans, log, run["top"], run["res"],
                               cores))
    span_path = os.path.join(base, f"spans-{wl.name}-s{seed}.json")
    tracer.dump(span_path)
    print(f"== {wl.name} traced: spans in {span_path}")
    for k, vals in run["e2e"].items():
        print_metric("traced " + k, units[k], vals)
    layer["trace.overhead_share"] = report_overhead(
        ref_path(base, wl.name, seed), run["e2e"], run["digests"], ops)
    for name, unit, *_ in PER_LAYER:
        layer.setdefault(name, 0.0)
        print_metric(name, unit, [layer[name]])
    print("  digests: " + json.dumps(run["digests"], sort_keys=True))
    return {name: {"value": float(layer[name]), "unit": unit}
            for name, unit, *_ in PER_LAYER}


def report_overhead(ref_path: str, traced: dict, digests: dict, ops) -> float:
    """Tracing overhead: the traced run's end-to-end medians against the
    last untraced run of the same workload and seed in this checkout (whose
    digests must also match). Returns the urls_per_s slowdown share."""
    if not os.path.exists(ref_path):
        print("  tracing overhead: no untraced run of this seed to compare")
        return 0.0
    with open(ref_path) as f:
        ref = json.load(f)
    if ref["digests"] != digests:
        ops.fail("the traced run printed another digest than the untraced "
                 "run of the same seed")
    print("  tracing overhead (traced run vs untraced run, same seed):")
    for k, vals in traced.items():
        a = ref["metrics"][k]["value"]
        b = summary(vals)["median"]
        print(f"    {k:<18} untraced={a:.6g} traced={b:.6g} "
              f"change={(b / a - 1) * 100 if a else 0.0:+.1f}%")
    a = ref["metrics"]["urls_per_s"]["value"]
    return a / summary(traced["urls_per_s"])["median"] - 1 if a else 0.0


def _kind(table: str) -> str:
    base = table.rstrip("0123456789").rstrip("_") if table[-1:].isdigit() \
        else table
    return "prefilter" if base in ("bloom", "cuckoo") else base


def install_tracing(tracer) -> None:
    """Spans around the program's public calls that a crawl makes
    internally: init_state, run_iteration, compact_seen and every catalog
    checkpoint write / rewrite (rows, bytes and files read off disk after
    the call returns)."""
    import url_pattern_algorithm_spark.plans.crawl as crawl
    from url_pattern_algorithm_spark.sources.catalog import Catalog

    from perfbench.crawl_driver import tree_size

    for fn in ("init_state", "run_iteration", "compact_seen"):
        tracer.patch(crawl, fn, lambda a, k, fn=fn: f"plans.crawl.{fn}")

    def write_after(span, result, args, kwargs):
        cat, name = args[0], args[2]
        path = cat.path(name)
        if name == "seen":
            it = args[4] if len(args) > 4 else kwargs["iteration"]
            path = os.path.join(path, f"epoch={it}")
        span.attrs["rows"] = result
        span.attrs["bytes"], span.attrs["files"] = tree_size(path)

    tracer.patch(Catalog, "write_checkpoint",
                 lambda a, k: f"sources.catalog.write.{_kind(a[2])}",
                 write_after)

    def rewrite_after(span, result, args, kwargs):
        span.attrs["bytes"] = tree_size(args[0].path(args[1]))[0]

    for fn in ("rewrite", "rewrite_locked"):
        tracer.patch(Catalog, fn,
                     lambda a, k: f"sources.catalog.rewrite.{_kind(a[1])}",
                     rewrite_after)


def layer_metrics(wl, spans, log, top, res, cores) -> dict:
    """Per-layer values from spans + event log."""
    from perfbench.spans import span_id_of_tag

    by_id = {s.id: s for s in spans}
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def subtree(sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(kids.get(x, ()))
        return out

    def tasks_of(ids: set[int]):
        return log.totals(lambda d: span_id_of_tag(d) in ids)

    named: dict[str, list] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)
    m: dict[str, float] = {}

    def total(name: str) -> float:
        return sum(s.wall for s in named.get(name, ()))

    for fn in ("init_state", "compact_seen"):
        m[f"plans.crawl.{fn}.wall_s"] = total(f"plans.crawl.{fn}")
    iters = named.get("plans.crawl.run_iteration", [])
    jobs = [tasks_of(subtree(s.id))[0] for s in iters]
    m["plans.crawl.run_iteration.jobs"] = statistics.median(jobs) if jobs else 0
    m["plans.crawl.unsee_urls.wall_s"] = total("plans.crawl.unsee_urls")
    m["plans.crawl.reenqueue_urls.wall_s"] = total("plans.crawl.reenqueue_urls")
    for t in ("scheduled", "seen", "pending", "host_state", "prefilter"):
        ss = named.get(f"sources.catalog.write.{t}", [])
        _jobs, tt = tasks_of({x for s in ss for x in subtree(s.id)})
        p = f"sources.catalog.write.{t}."
        m[p + "wall_s"] = sum(s.wall for s in ss)
        m[p + "task_s"] = tt.task_s
        m[p + "shuffle_bytes"] = tt.shuffle_bytes
        m[p + "spill_bytes"] = tt.spill_bytes
        for a in ("rows", "bytes", "files"):
            m[p + a] = sum(s.attrs.get(a, 0) for s in ss)
    # writer groups: the writes a run_iteration / init_state ran on pool
    # threads; overlap = summed writer walls / the group's wall
    overlaps = []
    for s in iters + named.get("plans.crawl.init_state", []):
        ws = [by_id[c] for c in kids.get(s.id, ())
              if by_id[c].thread != s.thread
              and by_id[c].name.startswith("sources.catalog.write.")]
        if len(ws) > 1:
            span_wall = max(w.end for w in ws) - min(w.start for w in ws)
            overlaps.append(sum(w.wall for w in ws) / span_wall)
    m["sources.catalog.writers.overlap"] = (
        statistics.median(overlaps) if overlaps else 0.0)
    rw = named.get("sources.catalog.rewrite.seen", [])
    m["sources.catalog.rewrite.seen.wall_s"] = sum(s.wall for s in rw)
    m["sources.catalog.rewrite.seen.bytes"] = sum(
        s.attrs.get("bytes", 0) for s in rw)
    links = named.get("replay.functions.links.extract_normalize", [])
    if links:
        _j, tt = tasks_of({links[0].id})
        m["functions.links.python_s"] = max(tt.task_s - tt.jvm_cpu_s, 0.0)
    for step in ("functions.udfs.normalize_url_udf",
                 "operators.aggregates.key_entropy",
                 "operators.pattern_tree.build_trees",
                 "operators.pattern_tree.leaf_alternations",
                 "plans.theme_pages.theme_page_plan",
                 "operators.rewrite.learn_rules",
                 "operators.rewrite.apply_rules"):
        m[step + ".wall_s"] = total(step)
    if not wl.is_crawl:
        c = res.counts
        nu = m["functions.udfs.normalize_url_udf.wall_s"]
        m["functions.udfs.normalize_url_udf.urls_per_s"] = (
            c["rows"] / nu if nu else 0.0)
        m["operators.pattern_tree.build_trees.nodes"] = c["nodes"]
        m["operators.pattern_tree.build_trees.max_host_share"] = \
            c["max_host_share"]
        m["operators.rewrite.learn_rules.rules"] = c["rules"]
        m["operators.rewrite.compression_ratio"] = c["compression_ratio"]
    jobs_all, tt = tasks_of(subtree(top.id))
    m.update({"spark.jobs": jobs_all, "spark.tasks": tt.tasks,
              "spark.task_s": tt.task_s, "spark.jvm_cpu_s": tt.jvm_cpu_s,
              "spark.shuffle_bytes": tt.shuffle_bytes,
              "spark.spill_bytes": tt.spill_bytes,
              "spark.failed_tasks": tt.failed_tasks,
              "spark.busy_share": tt.task_s / (top.wall * cores)})
    return m


def describe() -> None:
    from perfbench.layers import END_TO_END, PER_LAYER, UNMEASURED, WORKLOADS

    for name, why in WORKLOADS.items():
        print(f"workload {name}: {why}")
    for name, unit, better, bound, meaning in END_TO_END:
        print(f"e2e {name} [{unit}, {better} is better, bound {bound}]: "
              f"{meaning}")
    for name, unit, better, moves, ex, by in PER_LAYER:
        print(f"layer {name} [{unit}] moves {','.join(moves) or '-'}; "
              f"exercised by "
              f"{ex}; bypassed by {by or '-'}")
    print("unmeasured modules: " + ", ".join(UNMEASURED))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.describe:
        describe()
        return 0
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ — run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from perfbench.layers import END_TO_END

    cores = os.cpu_count() or 1
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}"
                        f"-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM spark-submit starts first keeps its files inside too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])

    from perfbench.crawl_driver import Ops

    ops = Ops()
    units = {e[0]: e[1] for e in END_TO_END}
    out_metrics: dict = {}
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    sess = None
    traced_runs = []  # per-layer metrics wait for the complete event log
    try:
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
        # one session for the whole run: the program's UDF objects bind to
        # the first context they meet
        sess = Session(work, cores, event_dir)
        up_s = time.perf_counter() - T_PROCESS
        next_span = 1
        for name in names:
            wl = Workload(name, args.seed, cores)
            wl_work = os.path.join(work, name)
            os.makedirs(wl_work, exist_ok=True)
            print(f"== {name} seed={args.seed} trace={args.trace} "
                  f"local[{cores}]", flush=True)
            if args.trace:
                run = run_traced(wl, sess, up_s, wl_work, ops, next_span)
                next_span = max(s.id for s in run["tracer"].spans) + 1
                traced_runs.append((wl, run))
            else:
                e2e, digests, peak_mb = run_untraced(wl, sess, up_s, wl_work,
                                                     args.seconds, ops)
                for k, vals in e2e.items():
                    print_metric(k, units[k], vals)
                print_metric("peak_rss_mb (per-layer)", "MiB", [peak_mb])
                out_metrics[name] = {
                    k: {"value": summary(e2e[k])["median"], "unit": units[k]}
                    for k in units}
                if not ops.failed:
                    with open(ref_path(base, name, args.seed), "w") as f:
                        json.dump({"metrics": out_metrics[name],
                                   "digests": digests}, f)
                print("  digests: " + json.dumps(digests, sort_keys=True))
            shutil.rmtree(wl_work, ignore_errors=True)
            up_s = 0.0
        sess.close()
        sess = None
        if traced_runs:
            from perfbench import eventlog

            log = eventlog.parse(event_dir)
        for wl, run in traced_runs:
            out_metrics[wl.name] = report_traced(wl, run, log, base,
                                                 args.seed, cores, ops)
    except Exception:
        traceback.print_exc()
        if ops.failed == 0:
            ops.fail("workload aborted")
    finally:
        if sess is not None:
            try:
                sess.close()
            except Exception:
                traceback.print_exc()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    attempted = max(ops.attempted, 1)
    print(f"  ops: attempted={ops.attempted} failed={ops.failed} "
          f"ops_failed_share={ops.failed / attempted:.4f}")
    for e in ops.errors:
        print(f"  FAILED: {e}")
    correct = ops.failed == 0 and len(out_metrics) == len(names)
    if not correct:
        return 1
    metrics = out_metrics[names[0]] if len(names) == 1 else {
        f"{w}.{k}": v for w, d in out_metrics.items() for k, v in d.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
