"""Per-layer accounting for the traced run (``--trace 1``).

Three sources feed the per-layer table:

- :class:`Tracer` wraps the public functions of the engine's
  ``sources`` and ``pipelines`` modules and sums the wall time spent in
  the outermost call of each layer. A write call executes the plan it
  writes, so ``sources.write_s`` includes that plan's compute. While a
  pipelines call is on the stack the ``perfbench.pipelines`` local
  property is set, so the event log tells which jobs a builder launched.
- :func:`reduce_eventlog` reads Spark's own event log (uncompressed,
  non-rolling) and sums task, stage and job metrics per pass, keyed by
  the job group the benchmark sets for each step.
- :func:`probe_operators` times single operator calls on persisted
  inputs, so each time is the operator's own.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict

import gen
from workloads import GROUP, LEVEL_A, LEVEL_B, km_check

PKG = "tcga_query_project_spark"
PIPELINES_PROP = "perfbench.pipelines"
EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _public_functions(module) -> list:
    return [
        f for n, f in vars(module).items()
        if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == module.__name__
    ]


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Tracer:
    """Times the outermost call per layer; install/uninstall swap every
    reference to a wrapped function in the package's loaded modules."""

    def __init__(self, spark):
        from tcga_query_project_spark.pipelines import corpus_prep, differential_expression, survival_analysis
        from tcga_query_project_spark.sources import io

        self.sc = spark.sparkContext
        self.active: set[str] = set()
        self.acc: dict[str, float] = defaultdict(float)
        targets: dict[str, list] = {}
        for f in _public_functions(io):
            if f.__name__.startswith("read_"):
                targets.setdefault("sources.read", []).append(f)
            elif f.__name__.startswith("write_"):
                targets.setdefault("sources.write", []).append(f)
        targets["pipelines.build"] = [
            f for m in (corpus_prep, differential_expression, survival_analysis) for f in _public_functions(m)
        ]
        self.wrapped = {f: self._wrap(layer, f) for layer, fs in targets.items() for f in fs}
        self.patches: list[tuple] = []

    def _wrap(self, layer: str, f):
        @functools.wraps(f)
        def wrapper(*args, **kwargs):
            if layer in self.active:
                return f(*args, **kwargs)
            self.active.add(layer)
            if layer == "pipelines.build":
                self.sc.setLocalProperty(PIPELINES_PROP, "1")
            t = time.perf_counter()
            try:
                return f(*args, **kwargs)
            finally:
                self.acc[layer + "_s"] += time.perf_counter() - t
                self.active.discard(layer)
                if layer == "pipelines.build":
                    self.sc.setLocalProperty(PIPELINES_PROP, None)
                if layer == "sources.write" and len(args) > 1 and isinstance(args[1], str):
                    self.acc["sources.write_bytes"] += dir_bytes(args[1])

        return wrapper

    def install(self) -> None:
        for mod in [m for name, m in sys.modules.items() if name.startswith(PKG) and m]:
            for name, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in self.wrapped:
                    self.patches.append((mod, name, val))
                    setattr(mod, name, self.wrapped[val])

    def uninstall(self) -> None:
        for mod, name, val in self.patches:
            setattr(mod, name, val)
        self.patches.clear()

    def take(self) -> dict[str, float]:
        out, self.acc = dict(self.acc), defaultdict(float)
        return out


# ------------------------------------------------------------ event log

ENGINE_KEYS = (
    "engine.jobs", "engine.stages", "engine.tasks", "engine.sched_wait_s",
    "engine.executor_run_s", "engine.executor_cpu_s", "engine.gc_s",
    "engine.shuffle_write_bytes", "engine.shuffle_read_bytes",
    "engine.shuffle_fetch_wait_s", "engine.spill_bytes", "engine.python_s",
)
PYTHON_TIME_METRIC = "time to run Python workers"  # millisecond SQL metric


def _union_s(intervals: list[tuple[int, int]]) -> float:
    covered, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return covered / 1000.0


def reduce_eventlog(path: str) -> dict[str, dict]:
    """Per-pass engine metrics from a Spark event log, keyed by the
    first field of the job group (``<pass>|<step>|<phase>``). Each pass
    also counts its build-phase jobs per step, as ``build_jobs|<step>``."""
    jobs, stage_group, stage_span = {}, {}, {}
    per_pass: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "pipelines": props.get(PIPELINES_PROP) == "1",
                    "start": ev["Submission Time"],
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_span[sid] = (info["Submission Time"], info["Completion Time"])
                    per_pass[stage_group.get(sid, "").split("|")[0]]["engine.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = per_pass[stage_group.get(ev["Stage ID"], "").split("|")[0]]
                acc["engine.tasks"] += 1
                acc["engine.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["engine.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["engine.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["engine.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                acc["engine.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                acc["engine.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                acc["engine.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Name") == PYTHON_TIME_METRIC:
                        acc["engine.python_s"] += float(a.get("Update", 0)) / 1e3
    for job in jobs.values():
        pass_label, _, rest = job["group"].partition("|")
        acc = per_pass[pass_label]
        acc["engine.jobs"] += 1
        if rest.endswith("|build"):
            acc["build_jobs|" + rest[: -len("|build")]] += 1
        if job["pipelines"]:
            acc["pipelines.build_jobs"] += 1
        if "end" in job:
            spans = [stage_span[s] for s in job["stages"] if s in stage_span
                     and stage_span[s][0] >= job["start"] and stage_span[s][1] <= job["end"]]
            acc["engine.sched_wait_s"] += max(0.0, (job["end"] - job["start"]) / 1e3 - _union_s(spans))
    return {k: dict(v) for k, v in per_pass.items()}


def find_eventlog(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {os.listdir(log_dir)}")
    return logs[0]


# ---------------------------------------------------------- operators


def _timed(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_operators(spark, tcga_dir: str, corpus_dir: str) -> tuple[dict[str, float], list[str]]:
    """Isolated operator calls, each on an input persisted beforehand;
    returns the timings and counts, and the problems the KM/log-rank
    reference check found."""
    from tcga_query_project_spark.operators import dedup, glm, stats, survival, text
    from tcga_query_project_spark.pipelines import differential_expression as de
    from tcga_query_project_spark.pipelines import survival_analysis as sa
    from tcga_query_project_spark.sources import io

    def persisted(df):
        df = df.persist()
        df.count()
        held.append(df)
        return df

    held: list = []
    out: dict[str, float] = {}
    problems: list[str] = []
    sc = spark.sparkContext
    sc.setJobGroup("probe", "isolated operator calls", False)
    try:
        ex, g, sm = (io.read_table(spark, tcga_dir, t) for t in ("expression", "genes", "samples"))
        fact = persisted(de.prepare_cohort(ex, sm, GROUP, [LEVEL_A, LEVEL_B]))
        out["stats.size_factors_s"] = _timed(lambda: _noop(stats.size_factors(fact, "gene_id", "barcode", "count")))
        sf = persisted(stats.size_factors(fact, "gene_id", "barcode", "count"))
        wald = glm.nb_glm_wald(fact, "gene_id", "cond", "count", sf, "barcode", LEVEL_A, LEVEL_B)
        out["glm.nb_glm_wald_s"] = _timed(lambda: _noop(wald))
        out["glm.genes_per_s"] = fact.select("gene_id").distinct().count() / out["glm.nb_glm_wald_s"]
        strata = persisted(sa.km_by_median_expression(ex, g, sm, gen.GOI)["strata"])
        curves = survival.km_curve(strata, "time", "status", ["gene_name", "stratum"])
        logrank = survival.logrank_test(strata, "time", "status", "stratum", extra_partition=["gene_name"])
        out["survival.km_logrank_s"] = _timed(lambda: (_noop(curves), _noop(logrank)))
        problems += km_check(strata.toPandas(), curves.toPandas(), logrank.toPandas())

        docs = persisted(io.read_table(spark, corpus_dir, "documents"))
        sh = persisted(dedup.shingle_array(docs, "doc_id", "text", 3))
        cand = dedup.lsh_candidates(dedup.minhash_signature_arrays(sh, "doc_id", 8), "doc_id", 2).count()
        pairs = dedup.near_duplicates(docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=0.2).count()
        out["dedup.minhash_candidates"] = float(cand)
        out["dedup.minhash_pairs"] = float(pairs)
        out["dedup.minhash_yield"] = pairs / cand if cand else 0.0
        emb = persisted(io.read_table(spark, corpus_dir, "embeddings"))
        near = dedup.embedding_near_dup_auto(emb, "vec_id", "embedding", 0.35, n_tables=4)
        out["dedup.embedding_near_dup_s"] = _timed(lambda: _noop(near))
        out["dedup.embedding_pairs"] = float(near.count())
        out["text.doc_metrics_s"] = _timed(lambda: _noop(text.doc_metrics(docs, "doc_id", "text")))
    finally:
        for df in held:
            df.unpersist()
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, problems
