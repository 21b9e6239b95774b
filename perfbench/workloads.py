"""Benchmark workloads: the steps of one pass, and the output checks.

A step is built (driver-side: builder calls, planning, any eager jobs)
and then executed into its sink; :mod:`run` times the two phases
separately. Checks run once, after the timed passes, on the outputs of
the last pass.
"""

from __future__ import annotations

import functools
import math
import numbers
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import gen


@dataclass
class Step:
    name: str
    layer: str  # "pipelines" or "catalog": whose builder the step calls
    build: Callable  # (ctx) -> built object
    sink: Callable  # (ctx, built) -> output kept for the check
    check: Callable  # (ctx, output) -> list of problems


@dataclass
class Ctx:
    spark: object
    data: str  # input directory
    out: str  # sink directory


@dataclass
class Workload:
    name: str
    generate: Callable  # (cache_root, seed, size) -> (dir, info)
    steps: list[Step]


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


# ------------------------------------------------------------- TCGA

TCGA_SIZES = {"full": (120, 48), "smoke": (40, 24)}
GROUP, LEVEL_A, LEVEL_B = "short_letter_code", "NT", "TP"


def _tcga_generate(root: str, seed: int, size: str):
    g, s = TCGA_SIZES[size]
    return gen.cached(root, f"tcga-{g}x{s}-{seed}", lambda d: gen.tcga_star(d, seed, g, s))


def _star(ctx: Ctx):
    from tcga_query_project_spark.sources import io

    return [io.read_table(ctx.spark, ctx.data, t) for t in ("expression", "genes", "samples")]


def _de_build(ctx: Ctx):
    from tcga_query_project_spark.pipelines import differential_expression as de

    return de.differential_expression(*_star(ctx), GROUP, LEVEL_A, LEVEL_B)


def _de_sink(ctx: Ctx, df) -> str:
    from tcga_query_project_spark.sources import io

    path = os.path.join(ctx.out, "de_csv")
    io.write_csv_single(df, path)
    return path


def _cohort_counts(data: str) -> pd.DataFrame:
    """Genes x samples counts of the NT/TP cohort, genes below the
    count floor removed."""
    ex = pd.read_parquet(os.path.join(data, "expression.parquet"))
    sm = pd.read_parquet(os.path.join(data, "samples.parquet"))
    cohort = set(sm.loc[sm[GROUP].isin([LEVEL_A, LEVEL_B]), "barcode"])
    m = ex[ex["barcode"].isin(cohort)].pivot(index="gene_id", columns="barcode", values="count")
    return m[m.sum(axis=1) >= 10].astype(np.float64)


def _de_check(ctx: Ctx, path: str) -> list[str]:
    import glob

    files = glob.glob(os.path.join(path, "part-*.csv"))
    if len(files) != 1:
        return [f"differential_expression: {len(files)} CSV parts, expected 1"]
    de = pd.read_csv(files[0])
    floor = set(_cohort_counts(ctx.data).index)
    problems = []
    if len(de) != len(floor) or set(de["gene_id"]) != floor:
        problems.append(f"differential_expression: {len(de)} rows vs {len(floor)} genes above the floor")
    p, q = de["pvalue"], de["padj"]
    if (p.isna() != q.isna()).any():
        problems.append("differential_expression: padj null where pvalue is not")
    ok = p.notna()
    if not ((p[ok] >= 0) & (p[ok] <= q[ok] + 1e-15) & (q[ok] <= 1)).all():
        problems.append("differential_expression: 0 <= pvalue <= padj <= 1 violated")
    # the size-factor reference rides on this check: it needs a Spark
    # job of its own, which must stay outside the timed passes
    return problems + _size_factor_check(ctx)


def _normal_sf2(z: np.ndarray) -> np.ndarray:
    """The engine's two-sided normal tail (Abramowitz-Stegun 26.2.17)."""
    az = np.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))))
    return np.minimum(2.0 * np.exp(-az * az / 2.0) / 2.5066282746310002 * poly, 1.0)


def _km_reference(strata: pd.DataFrame):
    """numpy Kaplan-Meier survival per (gene, stratum, time) and the
    two-group log-rank chi2 per gene, from the subject-level strata."""
    surv, chi2 = {}, {}
    for gene, sub in strata.groupby("gene_name"):
        t, d = sub["time"].to_numpy(float), sub["status"].to_numpy(float)
        g = sub["stratum"].to_numpy()
        for lab in np.unique(g):
            tt, dd = t[g == lab], d[g == lab]
            s = 1.0
            for u in np.unique(tt):
                n, ev = (tt >= u).sum(), dd[tt == u].sum()
                s *= 1.0 - ev / n
                surv[(gene, lab, u)] = s
        g1 = g == np.unique(g).min()
        oe = v = 0.0
        for u in np.unique(t[d > 0]):
            at = t >= u
            n, n1 = at.sum(), (at & g1).sum()
            dt, d1 = d[t == u].sum(), d[(t == u) & g1].sum()
            oe += d1 - dt * n1 / n
            if n > 1:
                v += dt * (n1 / n) * (1 - n1 / n) * (n - dt) / (n - 1)
        chi2[gene] = oe * oe / v if v > 0 else None
    return surv, chi2


def km_check(strata: pd.DataFrame, curves: pd.DataFrame, logrank: pd.DataFrame) -> list[str]:
    """KM curves and log-rank tests per gene against the numpy reference
    computed from the same subject-level strata."""
    if strata.empty:
        return ["km_logrank: no strata"]
    surv, chi2 = _km_reference(strata)
    problems = []
    got = dict(zip(curves[["gene_name", "stratum", "time"]].itertuples(index=False, name=None),
                   curves["survival"]))
    if len(got) != len(surv) or any(
        not math.isclose(got.get(k, -1.0), s, rel_tol=1e-9, abs_tol=1e-12) for k, s in surv.items()
    ):
        problems.append("km_logrank: KM curve differs from the numpy reference")
    if len(logrank) != len(chi2):
        problems.append(f"km_logrank: {len(logrank)} log-rank rows vs {len(chi2)} reference")
    for row in logrank.itertuples(index=False):
        ref = chi2.get(row.gene_name)
        if ref is None or row.chi2 is None or not math.isclose(row.chi2, ref, rel_tol=1e-9):
            problems.append(f"km_logrank: chi2 differs for {row.gene_name}")
        elif not math.isclose(row.p_value, float(_normal_sf2(np.sqrt(ref))), rel_tol=1e-9, abs_tol=1e-12):
            problems.append(f"km_logrank: p differs for {row.gene_name}")
    return problems


def _size_factor_check(ctx: Ctx) -> list[str]:
    from tcga_query_project_spark.operators import stats
    from tcga_query_project_spark.pipelines import differential_expression as de

    ex, _, sm = _star(ctx)
    fact = de.prepare_cohort(ex, sm, GROUP, [LEVEL_A, LEVEL_B])
    got = _pdf(stats.size_factors(fact, "gene_id", "barcode", "count"))
    counts = _cohort_counts(ctx.data)
    pos = np.log(counts[(counts > 0).all(axis=1)].to_numpy())
    ref = np.exp(np.median(pos - pos.mean(axis=1, keepdims=True), axis=0))
    got = got.set_index("barcode").reindex(counts.columns)["size_factor"].to_numpy()
    if not np.allclose(got, ref, rtol=1e-9, atol=0):
        return ["size_factors: differ from the numpy median-of-ratios reference"]
    return []


TCGA_COHORT = Workload(
    "tcga_cohort",
    _tcga_generate,
    [
        Step("differential_expression", "pipelines", _de_build, _de_sink, _de_check),
    ],
)

# ----------------------------------------------------------- corpus

CORPUS_SIZES = {"full": (2000, 800), "smoke": (400, 160)}


def _corpus_generate(root: str, seed: int, size: str):
    n, v = CORPUS_SIZES[size]
    return gen.cached(root, f"corpus-{n}x{v}-{seed}", lambda d: gen.native_corpus(d, seed, n, v))


def _spec(name: str):
    from tcga_query_project_spark import catalog

    return catalog.REGISTRY.get(name) or catalog.BENCH_ONLY[name]


def _oracle_check(name: str):
    def check(ctx: Ctx, got: pd.DataFrame) -> list[str]:
        return [f"{name}: {p}" for p in compare(got, run_oracle(_spec(name).oracle, ctx.data))]

    return check


def _dup_clusters_check(ctx: Ctx, got: pd.DataFrame) -> list[str]:
    """Connected components over the oracle's minhash pairs (the same
    hash family and threshold), one keeper per component: longest text,
    then lowest id. Replaces the catalog's recursive-CTE oracle, which
    takes tens of seconds at this size."""
    pairs = run_oracle(_spec("dd_minhash_lsh").oracle, ctx.data)
    docs = pd.read_parquet(os.path.join(ctx.data, "documents.parquet"), columns=["doc_id", "text"])
    root = {int(d): int(d) for d in docs["doc_id"]}

    def find(x: int) -> int:
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        root[max(ra, rb)] = min(ra, rb)
    want = docs.assign(component=[find(int(d)) for d in docs["doc_id"]], length=docs["text"].str.len())
    want["cluster_size"] = want.groupby("component")["doc_id"].transform("size")
    keep = want.sort_values(["length", "doc_id"], ascending=[False, True]).drop_duplicates("component")
    want = want.merge(keep[["component", "doc_id"]].rename(columns={"doc_id": "keep_id"}), on="component")
    want = want[["doc_id", "component", "cluster_size", "keep_id"]]
    return [f"dd_dup_clusters: {p}" for p in compare(got, want)]


@functools.lru_cache(maxsize=None)
def run_oracle(sql: str, data: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive exact comparison (floats after the catalog's
    own rounding, so no tolerance)."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return [f"columns {cols} vs oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows vs oracle {len(want)}"]

    def cell(v) -> str:
        if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
            return "\0null"
        if isinstance(v, numbers.Number) and not isinstance(v, bool):
            return repr(float(v))
        return str(v)

    def canon(df: pd.DataFrame) -> list[tuple]:
        return sorted(tuple(map(cell, r)) for r in df[cols].itertuples(index=False, name=None))

    a, b = canon(got), canon(want)
    bad = sum(x != y for x, y in zip(a, b))
    return [f"{bad} rows differ from the oracle"] if bad else []


def _corpus_step(name: str, check=None) -> Step:
    return Step(name, "catalog", lambda ctx: _spec(name).build(ctx.spark, ctx.data),
                lambda ctx, df: _pdf(df), check or _oracle_check(name))


CORPUS_PREP = Workload(
    "corpus_prep",
    _corpus_generate,
    [
        _corpus_step("dd_dup_clusters", _dup_clusters_check),
        _corpus_step("dd_embedding_lsh_pairs"),
    ],
)

# Two workloads that stress different layers: tcga_cohort runs the
# paper's DE pipeline, whose NB-GLM fit is the engine's only grouped-map
# Python/Arrow kernel, and writes through the CSV sink; corpus_prep runs
# catalog builders with eager build jobs (dup clusters), minhash and
# sign-LSH candidate joins and a numpy verify kernel. Both are kept small
# because a run pays a JVM start and a cold pass before it measures.
WORKLOADS = {w.name: w for w in (TCGA_COHORT, CORPUS_PREP)}
