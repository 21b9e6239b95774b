"""Benchmark entry point for the engine's workloads (see BENCHMARK.json).

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload tcga_cohort --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke            # tiny inputs, every metric present
    python3 perfbench/run.py --compare A.json B.json

One run, in one process on ``local[<cpus>]``:

1. generate the seeded inputs (cached on disk per seed; not timed);
2. set-up: ``get_spark`` plus the cold pass. ``setup_s`` is the time
   from process start to the end of that pass, less the generation;
3. one warm-up pass, then measured passes until ``--seconds`` have
   passed and at least ``--passes`` were taken; metrics are medians.
   The JIT keeps compiling for several passes, so a pass count that
   varied with host speed would move the medians: ``--seconds`` is kept
   below two passes' time, making the count a constant in practice;
4. output checks on the last pass's outputs (not timed);
5. with ``--trace 1``, traced and untraced passes alternate, the
   isolated operator calls run, and Spark's event log is reduced to
   the per-layer table.

The last line of stdout is the JSON result; the line before it, prefixed
``RECORD``, is the full record with the host stamp, and a copy is kept
under ``.bench_build/perfbench/records``. Everything a run writes stays
under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "tcga_query_project_spark"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = len(os.sched_getaffinity(0))
#: The pinned environment. The engine's 16g Spark-driver default exceeds
#: small hosts without swap; workers need the checkout on PYTHONPATH.
ENV = {
    "SPARK_DRIVER_MEMORY": "3g",
    "SPARK_GRAFT_CPUS": str(CPUS),
    "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    "PYTHONPATH": ROOT,
    "PYSPARK_PYTHON": sys.executable,
    "OMP_NUM_THREADS": "1",
    "TMPDIR": os.path.join(WORK, "tmp"),
}


def host_stamp() -> dict:
    """The git commit (or, outside a git checkout, a hash of the package
    sources), the CPU count and the memory of this host."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True).stdout.strip()
    else:
        h = hashlib.sha1()
        for d, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(f.encode())
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
        sha = "src-" + h.hexdigest()[:12]
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"sha": sha, "cpus": CPUS, "mem_gb": round(mem_kb / 2**20, 1)}


def _proc_table() -> tuple[dict, dict]:
    """(pid -> parent pid, pid -> CPU ticks incl. reaped children)."""
    parent, stat = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        stat[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return parent, stat


def _tree(parent: dict) -> set[int]:
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants, including
    reaped children (the JVM, the Python worker daemon and workers)."""
    parent, stat = _proc_table()
    return sum(stat.get(p, 0) for p in _tree(parent)) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    children = _tree(_proc_table()[0]) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.2)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def run_pass(ctx, steps, label: str, tracer=None) -> dict:
    """Build and sink every step once; failures are counted, not raised."""
    sc = ctx.spark.sparkContext
    res = {"label": label, "steps": {}, "outputs": {}, "errors": []}
    if tracer:
        tracer.take()
        tracer.install()
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    for step in steps:
        try:
            if tracer:
                sc.setJobGroup(f"{label}|{step.name}|build", "", False)
            tb = time.perf_counter()
            built = step.build(ctx)
            tb = time.perf_counter() - tb
            if tracer:
                sc.setJobGroup(f"{label}|{step.name}|exec", "", False)
            te = time.perf_counter()
            res["outputs"][step.name] = step.sink(ctx, built)
            te = time.perf_counter() - te
            res["steps"][step.name] = {"build_s": tb, "exec_s": te, "layer": step.layer}
        except Exception as e:  # a failed step is a measured outcome
            res["errors"].append(f"{label}/{step.name}: {type(e).__name__}: {str(e)[:300]}")
    res["wall_s"] = time.perf_counter() - t0
    res["cpu_s"] = tree_cpu_s() - cpu0
    if tracer:
        tracer.uninstall()
        res["layers"] = tracer.take()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return res


def heap_live_mb(spark) -> float:
    """Driver JVM heap in use after forced full GCs, once the listener
    bus has drained and Python has released its py4j references. The
    ContextCleaner frees broadcast and shuffle blocks only after a GC
    has collected their handles, so GC repeats until the figure holds."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    gc.collect()
    bean = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(12):
        bean.gc()
        time.sleep(0.5)
        prev, used = used, bean.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and abs(used - prev) <= 0.005 * prev:
            break
    return used


def run(args) -> dict:
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    cache = os.path.join(WORK, "data")
    tg = time.perf_counter()
    data, info = wl.generate(cache, args.seed, args.size)
    gen_s = time.perf_counter() - tg
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))

    from tcga_query_project_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ENV['TMPDIR']}",
    }
    if args.trace:
        import layers

        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(layers.EVENTLOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir})
    ts = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS, extra_conf=conf)
    session_start_s = time.perf_counter() - ts
    spark.sparkContext.setLogLevel("ERROR")
    ctx = workloads.Ctx(spark, data, os.path.join(run_dir, "out"))
    steps = wl.steps
    passes = [run_pass(ctx, steps, "cold")]
    setup_s = time.perf_counter() - T0 - gen_s
    # the JIT is still compiling in the pass after the cold one
    passes.append(run_pass(ctx, steps, "warm"))
    tracer = None
    if args.trace:
        tracer = layers.Tracer(spark)
    measured, traced = [], []
    t_meas = time.perf_counter()
    while (time.perf_counter() - t_meas < args.seconds or len(measured) < args.passes
           or (tracer and len(traced) < args.passes)):
        i = len(measured) + len(traced)
        # untraced, traced, traced, untraced: a warm-up trend cancels
        use = tracer if tracer and i % 4 in (1, 2) else None
        p = run_pass(ctx, steps, f"{'t' if use else 'm'}{i}", use)
        (traced if use else measured).append(p)
    passes += measured + traced
    measure_s = time.perf_counter() - t_meas

    result = {"metrics": {}}
    if not args.trace:
        heap = heap_live_mb(spark)
    # output checks on the last pass's outputs, outside the timed passes
    problems = [e for p in passes for e in p["errors"]]
    last = passes[-1]["outputs"]
    for step in steps:
        if step.name not in last:
            continue
        try:
            problems += step.check(ctx, last[step.name])
        except Exception as e:
            problems.append(f"check {step.name}: {type(e).__name__}: {str(e)[:300]}")
    attempted = len(steps) * len(passes)
    check_s = time.perf_counter() - t_meas - measure_s

    per_layer = {}
    if args.trace:
        per_layer = trace_layers(args, spark, traced, measured, session_start_s)
        problems += per_layer.pop("problems")
    stop_all(spark)
    if args.trace:
        per_pass = layers.reduce_eventlog(layers.find_eventlog(log_dir))
        per_layer.update(engine_layers(per_pass, traced, steps))
    shutil.rmtree(run_dir, ignore_errors=True)

    record = {
        "host": host_stamp(),
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "size": args.size,
        "inputs": info,
        "env": ENV,
        "passes": [{k: p[k] for k in ("label", "wall_s", "cpu_s", "steps")} for p in passes],
        "problems": problems,
        "attempted": attempted,
        "phases_s": {"generate": gen_s, "setup": setup_s, "measure": measure_s, "check": check_s,
                     "total": time.perf_counter() - T0},
    }
    if args.trace:
        metrics = {k: (v, layer_unit(k)) for k, v in sorted(per_layer.items())}
    else:
        metrics = {
            "pass_s": (median([p["wall_s"] for p in measured]), "s"),
            "pass_cpu_s": (median([p["cpu_s"] for p in measured]), "s"),
            "setup_s": (setup_s, "s"),
            "heap_live_mb": (heap, "MB"),
        }
        record["samples"] = {"pass_s": len(measured), "pass_cpu_s": len(measured), "setup_s": 1,
                             "heap_live_mb": 1}
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    record["ops_failed_ratio"] = len(problems) / attempted
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    result["attempted"] = attempted
    result["failed"] = len(problems)
    result["correct"] = not problems
    result["record"] = record
    return result


def layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("yield"):
        return "ratio"
    return "count"


def trace_layers(args, spark, traced, measured, session_start_s) -> dict:
    """Tracer sums, the reconciliation check and the operator probes."""
    import layers
    import workloads

    problems = []
    for p in traced:
        accounted = sum(s["build_s"] + s["exec_s"] for s in p["steps"].values())
        if abs(accounted - p["wall_s"]) > 0.10 * p["wall_s"]:
            problems.append(f"reconcile {p['label']}: steps {accounted:.3f}s vs pass {p['wall_s']:.3f}s")
    out = {"session.start_s": session_start_s}
    for key in ("sources.read_s", "sources.write_s", "sources.write_bytes", "pipelines.build_s"):
        out[key] = median([p["layers"].get(key, 0.0) for p in traced])
    out["catalog.build_s"] = median([
        sum(s["build_s"] for s in p["steps"].values() if s["layer"] == "catalog") for p in traced
    ])
    out["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in measured])
    # isolated operator calls on both operator families' inputs
    cache = os.path.join(WORK, "data")
    tcga_dir, _ = workloads.WORKLOADS["tcga_cohort"].generate(cache, args.seed, args.size)
    corpus_dir, _ = workloads.WORKLOADS["corpus_prep"].generate(cache, args.seed, args.size)
    try:
        probes, probe_problems = layers.probe_operators(spark, tcga_dir, corpus_dir)
        out.update(probes)
        problems += probe_problems
    except Exception as e:
        problems.append(f"operator probes: {type(e).__name__}: {str(e)[:300]}")
    out["problems"] = problems
    return out


def engine_layers(per_pass: dict, traced, steps) -> dict:
    import layers

    catalog_steps = {s.name for s in steps if s.layer == "catalog"}
    rows = []
    for p in traced:
        acc = per_pass.get(p["label"], {})
        row = {k: acc.get(k, 0.0) for k in layers.ENGINE_KEYS}
        row["pipelines.build_jobs"] = acc.get("pipelines.build_jobs", 0.0)
        row["catalog.build_jobs"] = sum(v for k, v in acc.items()
                                        if k.startswith("build_jobs|") and k[11:] in catalog_steps)
        rows.append(row)
    return {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}


def emit(result: dict) -> None:
    record = result.pop("record")
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-t{record['trace']}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    print("RECORD " + json.dumps(record))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


def compare(a_path: str, b_path: str) -> int:
    """Metric ratios b/a of two records; refuses records of different hosts."""
    recs = []
    for path in (a_path, b_path):
        with open(path) as f:
            recs.append(json.load(f))
    a, b = recs
    ha = {k: a["host"][k] for k in ("cpus", "mem_gb")}
    hb = {k: b["host"][k] for k in ("cpus", "mem_gb")}
    if ha != hb:
        print(f"refusing to compare records from different hosts: {ha} vs {hb}", file=sys.stderr)
        return 3
    for k in sorted(set(a["metrics"]) & set(b["metrics"])):
        va, vb = a["metrics"][k], b["metrics"][k]
        ratio = vb / va if va else float("nan")
        print(f"{k:32s} {va:14.4f} {vb:14.4f}  x{ratio:.3f}")
    return 0


def smoke() -> int:
    """Tiny inputs, one measured pass per workload and mode; asserts that
    every declared metric is present with its unit and nothing failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bad = 0
    for wl in bench["workloads"]:
        for tr, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl["name"], "--seed", "7",
                   "--seconds", "1", "--trace", str(tr), "--size", "smoke", "--passes", "1"]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                print(f"FAIL {wl['name']} trace={tr}: no result (exit {proc.returncode})\n{proc.stderr[-2000:]}")
                bad += 1
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            errs = []
            if got != want:
                errs.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                            f"extra {sorted(set(got) - set(want))}, "
                            f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
            if res["failed"] or not res["correct"]:
                record = json.loads(lines[-2][len("RECORD "):])
                errs.append(f"ops_failed_ratio {res['failed']}/{res['attempted']}: {record['problems']}")
            print(f"{'FAIL' if errs else 'ok  '} {wl['name']} trace={tr} attempted={res['attempted']} "
                  f"failed={res['failed']} {'; '.join(errs)}")
            bad += bool(errs)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--passes", type=int, default=2, help="minimum measured passes")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--compare", nargs=2, metavar="RECORD")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"perfbench: no {PKG} package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    os.environ.update(ENV)
    for d in (ENV["SPARK_LOCAL_DIRS"], ENV["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path[:0] = [ROOT, HERE]
    try:
        emit(run(args))
    except Exception:
        traceback.print_exc()
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
