#!/usr/bin/env python3
"""Benchmark of the knowledge-graph batch job, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload web_ner --seed 1 --seconds 25 --trace 0

Per run it generates the workload's seeded inputs (cached per seed under
``.perfbench/cache``, not timed) and starts a local Spark session sized
from the host. A warm-up iteration then runs the workload on one of the
input files, so the JVM has compiled the code paths before timing, while a
background thread computes the expected outputs. After
it, the workload runs in a fresh SparkContext per iteration until
``--seconds`` have passed (at least ``MIN_ITERATIONS`` times), and each
iteration's committed stages are checked against the expected outputs.

``--trace 0`` reports the end-to-end metrics (medians over iterations).
``--trace 1`` alternates untraced and traced iterations, at least
``MIN_ITERATIONS`` pairs (only one when another would end the run after
``RUN_LIMIT_S``), and reports the
per-layer metrics (medians over traced iterations; the tracing overhead of
each traced iteration is taken against the untraced one before it). It also
prints the layer table and writes the spans and event-log table of the last
traced iteration to ``.perfbench/trace/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import inputs

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")
MIN_ITERATIONS = 2
RUN_LIMIT_S = 170  # a run must end within 180 s, however slow the host

END_TO_END = {  # name -> unit
    "wall_s": "s",
    "setup_s": "s",
    "shuffle_write_mib": "MiB",
    "output_mib": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "extract.wall_s": "s",
    "extract.python_run_s": "s",
    "nlp.wall_s": "s",
    "nlp.python_run_s": "s",
    "nlp.python_boot_s": "s",
    "nlp.arrow_sent_mib": "MiB",
    "nlp.arrow_recv_mib": "MiB",
    "nlp.rows_out": "count",
    "nlp.task_skew": "ratio",
    "nlp.gc_s": "s",
    "pipeline.doc_terms_persist_s": "s",
    "pipeline.doc_terms_rows": "count",
    "pipeline.cached_mib": "MiB",
    "cooccur.term_stats_s": "s",
    "cooccur.pair_counts_s": "s",
    "cooccur.pairs_out": "count",
    "cooccur.shuffle_write_mib": "MiB",
    "cooccur.spill_mib": "MiB",
    "cooccur.task_skew": "ratio",
    "cooccur.gc_s": "s",
    "scores.projection_s": "s",
    "lineage.materialize_s": "s",
    "lineage.jobs": "count",
    "lineage.files_written": "count",
    "lineage.resume_s": "s",
    "canonicalize.terms_s": "s",
    "canonicalize.pair_scores_s": "s",
    "canonicalize.candidate_pairs": "count",
    "canonicalize.edge_yield": "ratio",
    "canonicalize.cc_s": "s",
    "canonicalize.cc_jobs": "count",
    "canonicalize.cc_path": "code",
    "dedup.lsh_candidates_s": "s",
    "dedup.candidates": "count",
    "dedup.confirm_s": "s",
    "dedup.confirm_yield": "ratio",
    "dedup.clusters_s": "s",
    "trace.layer_sum_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_share": "ratio",
}


def host_resources() -> tuple[int, int, int]:
    """(cores, memory bytes, driver heap MiB) of this host: cores from the
    CPU affinity mask, memory from the cgroup limit or MemTotal, and a heap
    of 25% of that memory (1-16 GiB), leaving room for Python workers."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            mem = min(mem, int(limit))
    heap_mib = max(1024, min(16384, int(mem * 0.25) // 2**20))
    return cores, mem, heap_mib


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class Bench:
    def __init__(self, workload: str, seed: int, input_dir: str, cores: int, heap_mib: int):
        from pmcanalysis_spark.session import get_spark

        self.workload, self.seed, self.input_dir = workload, seed, input_dir
        self.cores = cores
        self.eventlog_dir = os.path.join(WORK, "eventlog")
        self.out_root = os.path.join(WORK, "stages")
        for d in (self.eventlog_dir, self.out_root):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        conf = {
            "spark.driver.memory": f"{heap_mib}m",
            # no hsperfdata files under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        self._get_spark = lambda: get_spark(app_name=f"perfbench-{workload}", cores=cores, extra_conf=conf)
        self.jvm_pid: int | None = None
        self.iteration = 0

    def _prewarm(self, spark) -> None:
        """Start the Python workers and Arrow path before timing."""
        def ident(batches):
            yield from batches

        spark.sparkContext.setJobGroup("setup.prewarm", "setup.prewarm")
        (spark.range(self.cores * 4, numPartitions=self.cores).mapInPandas(ident, "id long")
         .write.format("noop").mode("overwrite").save())

    def _reset_peak_rss(self) -> None:
        try:
            with open(f"/proc/{self.jvm_pid}/clear_refs", "w") as f:
                f.write("5")  # resets VmHWM to the current RSS
        except OSError:
            pass

    def _peak_rss_mib(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024

    def run_iteration(self, traced: bool, warm_up: bool = False) -> dict:
        """One fresh SparkContext: set-up, one pipeline run, stop, check. A
        warm-up reads one input file and is not checked."""
        import eventlog
        import workloads
        from spans import CountCalls, Tracer

        res: dict = {"traced": traced}
        t0 = time.perf_counter()
        spark = self._get_spark()
        res["start_s"] = time.perf_counter() - t0
        if self.jvm_pid is None:
            self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self._prewarm(spark)
        inp = workloads.open_inputs(spark, self.workload, self.input_dir, first_file_only=warm_up)
        res["setup_s"] = time.perf_counter() - t0
        sc = spark.sparkContext
        out_dir = os.path.join(self.out_root, f"it{self.iteration}")
        fp = f"{self.workload}|seed{self.seed}|it{self.iteration}"
        self.iteration += 1
        self._reset_peak_rss()
        err = None
        try:
            if traced:
                tracer = Tracer(sc)
                sc.setJobGroup("trace.root", "trace.root")
                with CountCalls(HERE) as counts:
                    workloads.run_traced(spark, self.workload, inp, out_dir, fp, tracer, counts)
                res["spans"] = tracer.as_records()
            else:
                sc.setJobGroup("timed", "timed")
                with CountCalls(HERE, forbid=True):
                    t1 = time.perf_counter()
                    workloads.run_timed(spark, self.workload, inp, out_dir, fp)
                    res["wall_s"] = time.perf_counter() - t1
        except Exception:
            err = traceback.format_exc()
        res["peak_rss_mib"] = self._peak_rss_mib()
        log = os.path.join(self.eventlog_dir, sc.applicationId)
        spark.stop()
        res["groups"] = eventlog.group_table(eventlog.read_events(log))
        tot = eventlog.total(res["groups"])
        res["shuffle_write_mib"] = tot.shuffle_write_bytes / 2**20
        res["task_gc_s"] = tot.gc_ms / 1e3
        out_bytes, res["files_written"] = _tree_bytes(out_dir)
        res["output_mib"] = out_bytes / 2**20
        if err is None and not warm_up:
            try:
                err = workloads.check(self.workload, self.input_dir, out_dir)
            except Exception:
                err = traceback.format_exc()
        res["error"] = err
        for d in (out_dir, out_dir + "-probe"):
            shutil.rmtree(d, ignore_errors=True)
        os.remove(log)
        return res

    def stop_jvm(self) -> None:
        """End the JVM the first session launched and wait for it. Each
        iteration's ``spark.stop()`` has already stopped its Python workers."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.proc.stdin.close()  # the gateway exits when its driver's stdin closes
            gw.proc.wait(timeout=60)


def layer_metrics(res: dict, untraced_wall: float) -> dict[str, float]:
    """Per-layer metrics of one traced iteration; ``untraced_wall`` is the
    wall time of the untraced iteration just before it."""
    from eventlog import GroupStats

    spans, groups = res["spans"], res["groups"]

    def named(*names: str) -> list[int]:
        """Indices of the spans of these names: the real calls, or the
        probes when the workload bypasses the layer."""
        hits = [i for i, s in enumerate(spans) if s["name"] in names]
        return [i for i in hits if not spans[i]["probe"]] or hits

    def t(*names: str) -> float:
        """Self time of the spans of these names."""
        return sum(spans[i]["self_s"] for i in named(*names))

    def fig(name: str, key: str) -> float:
        return sum(spans[i]["figures"].get(key, 0) for i in named(name))

    def g(*names: str) -> GroupStats:
        """Event-log figures of the job groups of these spans."""
        out = GroupStats()
        for i in named(*names):
            out = out.merged(groups.get(spans[i]["group"], GroupStats()))
        return out

    def self_cached(name: str) -> int:
        """Cache bytes the spans of this name added, less their children's."""
        return sum(spans[i]["figures"]["cached_bytes"]
                   - sum(c["figures"]["cached_bytes"] for c in spans if c["parent"] == i)
                   for i in named(name))

    nlp, extract = g("nlp.detect_doc_terms"), g("pipeline.extract_stage")
    cooc = g("cooccur.term_stats", "cooccur.pair_counts")
    cc = [spans[i] for i in named("canonicalize.connected_components")]
    layer_sum = sum(s["self_s"] for s in spans if not s["probe"])
    return {
        "session.start_s": res["start_s"],
        "extract.wall_s": t("pipeline.extract_stage"),
        "extract.python_run_s": extract.python_run_ms / 1e3,
        "nlp.wall_s": t("nlp.detect_doc_terms"),
        "nlp.python_run_s": nlp.python_run_ms / 1e3,
        # the NER job reuses the Python workers set-up's prewarm job started
        "nlp.python_boot_s": groups["setup.prewarm"].python_boot_ms / 1e3,
        "nlp.arrow_sent_mib": nlp.arrow_sent_bytes / 2**20,
        "nlp.arrow_recv_mib": nlp.arrow_recv_bytes / 2**20,
        "nlp.rows_out": fig("nlp.detect_doc_terms", "rows"),
        "nlp.task_skew": nlp.task_skew,
        "nlp.gc_s": nlp.gc_ms / 1e3,
        "pipeline.doc_terms_persist_s": t("pipeline.triples_from_doc_terms"),
        "pipeline.doc_terms_rows": fig("cooccur.term_stats", "input_rows"),
        "pipeline.cached_mib": self_cached("pipeline.triples_from_doc_terms") / 2**20,
        "cooccur.term_stats_s": t("cooccur.term_stats"),
        "cooccur.pair_counts_s": t("cooccur.pair_counts"),
        "cooccur.pairs_out": fig("cooccur.pair_counts", "rows"),
        "cooccur.shuffle_write_mib": cooc.shuffle_write_bytes / 2**20,
        "cooccur.spill_mib": (cooc.disk_spill_bytes + cooc.memory_spill_bytes) / 2**20,
        "cooccur.task_skew": cooc.task_skew,
        "cooccur.gc_s": cooc.gc_ms / 1e3,
        "scores.projection_s": t("cooccur.scored_pairs"),
        "lineage.materialize_s": t("lineage.materialize_stage"),
        "lineage.jobs": g("lineage.materialize_stage").jobs,
        "lineage.files_written": res["files_written"],
        "lineage.resume_s": t("lineage.try_resume"),
        "canonicalize.terms_s": t("canonicalize.canonicalize_terms"),
        "canonicalize.pair_scores_s": t("canonicalize.pair_scores"),
        "canonicalize.candidate_pairs": fig("canonicalize.pair_scores", "rows"),
        "canonicalize.edge_yield": fig("canonicalize.similarity_edges", "rows")
        / max(fig("canonicalize.pair_scores", "rows"), 1),
        "canonicalize.cc_s": t("canonicalize.connected_components"),
        "canonicalize.cc_jobs": g("canonicalize.connected_components").jobs,
        # connected_components counts nothing on its driver path, counts the
        # contracted graph once on the star-contraction path, and counts once
        # more per iteration of the label-propagation loop
        "canonicalize.cc_path": max((min(s["figures"]["program_counts"], 2) for s in cc), default=0),
        "dedup.lsh_candidates_s": t("dedup.minhash_lsh_pairs"),
        "dedup.candidates": fig("dedup.minhash_lsh_pairs", "rows"),
        "dedup.confirm_s": t("dedup.neardup_text_scalable"),
        "dedup.confirm_yield": fig("dedup.neardup_text_scalable", "rows")
        / max(fig("dedup.minhash_lsh_pairs", "rows"), 1),
        "dedup.clusters_s": t("dedup.neardup_text_clusters"),
        "trace.layer_sum_s": layer_sum,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_share": (layer_sum - untraced_wall) / untraced_wall,
    }


def layer_table(res: dict) -> str:
    """Spans of one traced iteration, indented by nesting, with their
    event-log figures."""
    import eventlog

    depth: list[int] = []
    lines = [f"{'span':52s} {'self_s':>8s} {'probe':>5s} {'rows':>9s} {'jobs':>5s} {'shuf_w_MiB':>10s} "
             f"{'py_run_s':>8s} {'skew':>6s} {'gc_s':>6s}"]
    for s in res["spans"]:
        depth.append(0 if s["parent"] is None else depth[s["parent"]] + 1)
        st = res["groups"].get(s["group"], eventlog.GroupStats())
        rows = s["figures"].get("rows", "")
        lines.append(f"{'  ' * depth[-1] + s['name']:52s} {s['self_s']:8.3f} {'yes' if s['probe'] else '':>5s} "
                     f"{rows:>9} {st.jobs:5d} {st.shuffle_write_bytes / 2**20:10.2f} "
                     f"{st.python_run_ms / 1e3:8.3f} {st.task_skew:6.2f} {st.gc_ms / 1e3:6.3f}")
    return "\n".join(lines)


def input_rows(workload: str) -> int:
    sz = inputs.SIZES[workload]
    if workload == "web_ner":
        return sz["pages"]
    return sz["normal_records"] + sz["mega_records"] + sz["docs"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run_start = time.perf_counter()

    sys.path[:0] = [ROOT, HERE]
    if importlib.util.find_spec("pmcanalysis_spark") is None:
        print("pmcanalysis_spark not found: run from the root of a repository checkout", file=sys.stderr)
        return 2
    # keep every temporary file of Python, the JVM and Spark in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    cores, mem, heap_mib = host_resources()
    print(f"host: cores={cores} memory_mib={mem // 2**20} driver_heap_mib={heap_mib} "
          f"master=local[{cores}]", flush=True)
    t = time.perf_counter()
    input_dir, expected_ready = inputs.build(args.workload, args.seed, os.path.join(WORK, "cache"))
    print(f"inputs: {input_dir} written in {time.perf_counter() - t:.1f}s", flush=True)

    bench = Bench(args.workload, args.seed, input_dir, cores, heap_mib)
    results: list[dict] = []
    try:
        # the expected outputs are computed during JVM start and warm-up
        # (neither is measured) and are ready before the first measurement
        warm = bench.run_iteration(traced=False, warm_up=True)
        print(f"warm-up: setup_s={warm['setup_s']:.3f} wall_s={warm.get('wall_s', float('nan')):.3f} "
              f"error={warm['error'] is not None}", flush=True)
        t = time.perf_counter()
        expected_ready()
        print(f"expected outputs: ready after {time.perf_counter() - t:.1f}s more", flush=True)
        notes = os.path.join(input_dir, "notes.json")
        if os.path.exists(notes):
            with open(notes) as f:
                print("inputs:", json.load(f), flush=True)
        start = time.perf_counter()
        durations: list[float] = []
        while True:
            # --trace 1 alternates untraced and traced iterations
            traced = bool(args.trace) and len(results) % 2 == 1
            it_start = time.perf_counter()
            res = bench.run_iteration(traced=traced)
            results.append(res)
            last = time.perf_counter() - it_start
            durations.append(last)
            print(f"iteration {len(results)}: traced={traced} setup_s={res['setup_s']:.3f} "
                  f"wall_s={res.get('wall_s', float('nan')):.3f} peak_rss_mib={res['peak_rss_mib']:.0f} "
                  f"shuffle_write_mib={res['shuffle_write_mib']:.2f} output_mib={res['output_mib']:.2f} "
                  f"task_gc_s={res['task_gc_s']:.2f} error={res['error'] is not None}", flush=True)
            # --trace 1 needs MIN_ITERATIONS (untraced, traced) pairs, but
            # starts no pair that would end the run after RUN_LIMIT_S: one
            # pair already gives every per-layer metric
            if (len(results) >= MIN_ITERATIONS * (1 + args.trace)
                    and time.perf_counter() - start + last > args.seconds):
                break
            if (args.trace and len(results) % 2 == 0
                    and time.perf_counter() - run_start + sum(durations[-2:]) > RUN_LIMIT_S):
                break
    finally:
        bench.stop_jvm()

    attempted = [warm] + results
    failed = [r for r in attempted if r["error"] is not None]
    for r in failed:
        print(f"FAILED iteration: {r['error']}", file=sys.stderr)
    untraced = [r for r in results if not r["traced"] and "wall_s" in r]
    med = lambda key, rs: statistics.median(r[key] for r in rs)  # noqa: E731
    if args.trace:
        # each traced iteration against the untraced one just before it
        pairs = [(r, p) for p, r in zip(results, results[1:])
                 if r["traced"] and "spans" in r and not p["traced"] and "wall_s" in p]
        traced = [r for r, _p in pairs]
        per_it = [layer_metrics(r, p["wall_s"]) for r, p in pairs]
        wall = med("wall_s", untraced) if untraced else float("nan")
        values = {k: statistics.median(m[k] for m in per_it) for k in PER_LAYER} if per_it else {}
        if per_it:
            values["trace.untraced_wall_s"] = wall
        units = PER_LAYER
        if traced:
            last_traced, last_untraced = pairs[-1]
            print(layer_table(last_traced))
            os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
            path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"spans": last_traced["spans"],
                           "groups": {k: {**vars(v), "task_skew": v.task_skew}
                                      for k, v in last_traced["groups"].items()},
                           "metrics": values}, f, indent=1, default=str)
            # the overhead is the work forcing each layer adds: compare the
            # jobs of the traced run with those of the untraced one
            jobs = sum(last_traced["groups"][s["group"]].jobs for s in last_traced["spans"]
                       if not s["probe"] and s["group"] in last_traced["groups"])
            print(f"trace: layer_sum_s={values['trace.layer_sum_s']:.3f} untraced_wall_s={wall:.3f} "
                  f"overhead_share={values['trace.overhead_share']:+.3f} (median of {len(pairs)}; "
                  f"jobs traced={jobs} untraced={last_untraced['groups']['timed'].jobs}) written to {path}")
    else:
        values = {k: med(k, untraced) for k in END_TO_END} if untraced else {}
        units = END_TO_END
        if values:
            # peak RSS is reported but not gated: G1 heap growth makes it
            # vary by tens of percent between identical runs (README.md)
            print(f"summary: workload={args.workload} iterations={len(untraced)} "
                  + " ".join(f"{k}={v:.4f}{units[k]}" for k, v in values.items())
                  + f" peak_rss_mib={med('peak_rss_mib', untraced):.0f}MiB"
                  + f" error_rate={len(failed) / len(attempted):.3f} "
                  f"rows_per_s={input_rows(args.workload) / values['wall_s']:.0f}")
    values = {k: v for k, v in values.items() if math.isfinite(v)}  # the JSON line stays valid
    ok = not failed and len(values) == len(units)
    print(json.dumps({
        "correct": ok,
        "attempted": len(attempted),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
