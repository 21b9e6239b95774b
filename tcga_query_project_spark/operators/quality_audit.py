"""Single-pass data-quality audit — Deequ-style expectation checks.

A training-data (or analytics) pipeline gates every ingest batch on a
constraint report: null rates, value ranges, key uniqueness, set
membership, row count. The naive formulation runs one job per check;
this operator compiles ALL checks into ONE aggregation pass (every
constraint is an algebraic aggregate — the insight behind AWS Deequ's
analyzer batching), so a 100-constraint audit of a 100 TB batch costs
exactly one corpus scan with map-side partial aggregation and a
one-row result.

Check types (constructors below):

- ``not_null(col)`` — no NULLs;
- ``in_range(col, lo, hi)`` — min/max bounds on a numeric column;
- ``unique(col)`` — key uniqueness (count == approx-free exact
  count(distinct) — the one check that is NOT map-side-only; it adds
  the standard distinct expansion to the single pass);
- ``in_set(col, values)`` — categorical domain, every row a member;
- ``row_count(lo)`` — batch-size floor.

Output: one row per check — ``(check STRING, column STRING, metric
DOUBLE, threshold DOUBLE, passed BOOLEAN)``; the gate passes iff
every row passed. Deterministic; no sampling.

Reference analog: none (the reference trusts GDC); this serves the
pipeline-hygiene surface a production ingest needs (the reference's
low-count gene filter A1 is itself a domain-specific quality gate).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    column: str
    #: aggregate expression producing the metric (a DOUBLE)
    metric: Column
    threshold: float
    #: metric comparator: True = pass when metric <= threshold,
    #: False = pass when metric >= threshold
    at_most: bool


def not_null(col: str) -> Check:
    nulls = F.avg(F.col(col).isNull().cast("double"))
    return Check("not_null", col, nulls, 0.0, at_most=True)


def in_range(col: str, lo: float, hi: float) -> tuple[Check, Check]:
    """Two checks: observed min >= lo and observed max <= hi (nulls
    ignored, as in SQL aggregates — combine with not_null to forbid)."""
    return (
        Check(
            "min_at_least", col,
            F.min(F.col(col)).cast("double"), float(lo), at_most=False,
        ),
        Check(
            "max_at_most", col,
            F.max(F.col(col)).cast("double"), float(hi), at_most=True,
        ),
    )


def unique(col: str) -> Check:
    """Duplicate fraction over NON-NULL keys = 1 - distinct/count(col);
    passes at 0. Nulls are not counted as duplicates — that failure
    mode belongs to ``not_null`` (pair the two), so the audit log names
    the actual defect instead of mislabeling nullability as key
    collision. ``try_divide`` keeps an all-null or EMPTY batch from
    throwing under ANSI: the metric goes NULL, which the fail-closed
    verdict logic turns into a failure."""
    dup_frac = F.lit(1.0) - F.try_divide(
        F.countDistinct(F.col(col)).cast("double"),
        F.count(F.col(col)).cast("double"),
    )
    return Check("unique", col, dup_frac, 0.0, at_most=True)


def in_set(col: str, values: Sequence[str]) -> Check:
    # NULL counts as NON-member (coalesce): isin(NULL) is NULL and avg
    # would silently skip it — a domain check that ignores null rows
    # understates violations
    member = F.coalesce(
        F.col(col).isin(list(values)), F.lit(False)
    ).cast("double")
    return Check("in_set", col, F.avg(member), 1.0, at_most=False)


def row_count(lo: int) -> Check:
    return Check(
        "row_count_at_least", "*",
        F.count(F.lit(1)).cast("double"), float(lo), at_most=False,
    )


def _flatten(checks) -> list[Check]:
    out: list[Check] = []
    for c in checks:
        if isinstance(c, Check):
            out.append(c)
        else:
            out.extend(c)
    return out


def audit(df: DataFrame, checks) -> DataFrame:
    """Run every check in ONE aggregation job; returns one row per
    check: ``(check, column, metric, threshold, passed)``.

    All metrics are aggregate expressions over the same scan, so Spark
    executes a single (mostly map-side) pass however many checks are
    registered; only ``unique``'s count-distinct adds shuffle weight.
    Verdicts compare the RAW metric against the threshold — rounding
    happens only in the reported ``metric`` column, because rounding
    before comparison fails OPEN at scale (one null row in 4M rounds a
    2.5e-7 null fraction to 0.0 and passes a zero-tolerance check;
    at the batch sizes this module targets that is hundreds of
    thousands of silent violations).
    """
    flat = _flatten(checks)
    if not flat:
        raise ValueError("audit: no checks given")
    aggs = [c.metric.alias(f"_m{i}") for i, c in enumerate(flat)]
    row = df.agg(*aggs)
    # one-row frame -> one row per check via an inline struct explode;
    # stays a DataFrame (composable into gate queries / sinks)
    structs = F.array(
        *[
            F.struct(
                F.lit(c.name).alias("check"),
                F.lit(c.column).alias("column"),
                F.round(F.col(f"_m{i}"), 6).alias("metric"),
                F.lit(c.threshold).alias("threshold"),
                # NULL metric (all-null column, empty batch) must FAIL
                # the check, not vanish from the gate: a NULL
                # comparison would silently approve an empty ingest
                F.coalesce(
                    (
                        (F.col(f"_m{i}") <= F.lit(c.threshold))
                        if c.at_most
                        else (F.col(f"_m{i}") >= F.lit(c.threshold))
                    ),
                    F.lit(False),
                ).alias("passed"),
            )
            for i, c in enumerate(flat)
        ]
    )
    return row.select(F.explode(structs).alias("_c")).select(
        "_c.check", "_c.column", "_c.metric", "_c.threshold", "_c.passed"
    )


# =====================================================================
# Distribution drift between snapshots (PSI)
# =====================================================================


def _bin_label_sql(col: str, edges: Sequence[float]) -> str:
    """Portable bin label for a numeric column given ascending edges:
    ``'b' || (number of edges <= value)`` — a branch-free form whose
    SQL mirror is a sum of boolean casts, so Spark and any oracle
    engine bin identically (NULL → ``'__null__'``). Single parsed SQL
    string (was a per-edge Column loop)."""
    idx = " + ".join(
        f"cast((`{col}` >= {float(e)!r}D) as int)" for e in edges
    )
    return (
        f"case when `{col}` is null then '__null__' "
        f"else concat('b', cast({idx} as string)) end"
    )


#: PSI share floor for empty bins, and the PSI above which a feature
#: has drifted (the conventional "major shift" level).
PSI_EPSILON = 1e-6
PSI_THRESHOLD = 0.2


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    *,
    numeric: dict[str, Sequence[float]],
    categorical: Sequence[str],
) -> DataFrame:
    """Population Stability Index between two snapshots of the same
    table — the standard drift gate between a reference window (the
    data a model/filter was tuned on) and the current ingest window.
    The training-pipeline uses: detect when a crawl's language mix,
    quality-score distribution, or document-length profile shifts
    enough that sampling weights and filter thresholds need re-tuning.

    PSI(feature) = Σ_bins (p - q) · ln(p / q), p/q = ref/cur bin
    shares floored at ``PSI_EPSILON`` (the standard guard for empty
    bins); the conventional alert levels are 0.1 (moderate) and 0.2
    (major — ``PSI_THRESHOLD``). Numeric features bin by explicit
    ascending ``edges`` (data-independent, so the binning itself
    cannot drift between runs); categorical features bin by value,
    NULL as its own ``'__null__'`` bin on both paths.

    Returns one row per feature: ``(feature STRING, psi DOUBLE
    [rounded 6], n_bins BIGINT, drifted BOOLEAN)``; ``drifted``
    compares the ROUNDED psi to ``PSI_THRESHOLD`` so the verdict is
    engine-portable.

    Scale: each side contributes one narrow projection + explode
    (rows × n_features, still a map-side pass); then ONE
    groupBy(feature, bin) count shuffle whose output is
    bin-cardinality-sized, a broadcast-joined per-feature total, and a
    feature-sized final aggregate. No corpus-sized state anywhere —
    a 100 TB month-over-month drift check is two scans + one tiny
    shuffle. Reference analog: none (serves the pipeline-hygiene
    surface, like :func:`audit`).
    """
    if not numeric and not categorical:
        raise ValueError("psi_drift needs at least one feature")

    counts = (
        binned_features(ref, numeric, categorical).select(
            F.lit(1).alias("_is_ref"), "feature", "bin"
        )
        .unionByName(
            binned_features(cur, numeric, categorical).select(
                F.lit(0).alias("_is_ref"), "feature", "bin"
            )
        )
        .groupBy("feature", "bin")
        .agg(
            F.sum("_is_ref").cast("double").alias("ref_n"),
            F.sum(1 - F.col("_is_ref")).cast("double").alias("cur_n"),
        )
    )
    return psi_from_counts(counts)


def binned_features(
    df: DataFrame,
    numeric: dict[str, Sequence[float]],
    categorical: Sequence[str],
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Project a table into the long ``(*extra_cols, feature, bin)``
    form :func:`psi_drift` aggregates — public so the STREAMING PSI
    monitor bins with the identical expressions (numeric by
    data-independent ascending edges, categorical by value, NULL its
    own ``'__null__'`` bin). One explode per row (rows x n_features),
    still a zero-shuffle map-side pass."""
    pairs = [
        f"struct('{col}' as feature, {_bin_label_sql(col, edges)} as bin)"
        for col, edges in numeric.items()
    ] + [
        f"struct('{col}' as feature, "
        f"coalesce(cast(`{col}` as string), '__null__') as bin)"
        for col in categorical
    ]
    return df.selectExpr(
        *[f"`{c}`" for c in extra_cols],
        f"explode(array({', '.join(pairs)})) as fb",
    ).select(*extra_cols, "fb.feature", "fb.bin")


def psi_from_counts(
    counts: DataFrame,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """PSI from pre-aggregated bin counts ``(*group_cols, feature,
    bin, ref_n, cur_n)`` → one row per (*group_cols, feature):
    ``(psi [rounded 6], n_bins, drifted)``. Public so the batch gate
    and the streaming windowed monitor share ONE algebra (stream ==
    batch by construction, not by parallel implementation).

    An EMPTY side (no reference rows / no current rows) must not
    0/0-NaN the shares: its every bin share floors to PSI_EPSILON, so
    PSI degenerates to "everything changed" — large and drifted,
    the sensible verdict — identically in both engines.
    """
    gcols = [*group_cols, "feature"]
    totals = counts.groupBy(*gcols).agg(
        F.sum("ref_n").alias("_rt"), F.sum("cur_n").alias("_ct")
    )
    eps = f"{PSI_EPSILON!r}D"
    p = (
        "greatest(case when _rt > 0 then ref_n / _rt else 0.0D end, "
        f"{eps})"
    )
    q = (
        "greatest(case when _ct > 0 then cur_n / _ct else 0.0D end, "
        f"{eps})"
    )
    term = f"(({p}) - ({q})) * ln(({p}) / ({q}))"
    return (
        counts.join(F.broadcast(totals), gcols)
        .groupBy(*gcols)
        .agg(
            F.expr(f"round(sum({term}), 6) as psi"),
            F.expr("cast(count(1) as bigint) as n_bins"),
        )
        .withColumn("drifted", F.col("psi") > F.lit(PSI_THRESHOLD))
    )


def column_profile(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """Whole-table column profiler — the "what is actually in this
    batch" report a pipeline runs before writing schema-dependent
    jobs against new data: per column, row/null/distinct counts, the
    Shannon entropy of the value distribution (the
    uniformity/degeneracy signal: ~0 ⇒ near-constant column, ~ln(n)
    ⇒ key-like), and the modal value with its share (the
    "is this column 99% one default?" check).

    ``cols`` maps output column names to already-CANONICALIZED string
    expressions — the caller chooses an engine-portable rendering
    (integers/epoch-micros/rounded-cents cast to string), because raw
    float→string formatting differs across engines. NULLs survive the
    cast and are profiled as nulls, never as a value: distinct,
    entropy, and the mode are over non-null values only.

    Output: ``(column, n, n_null, n_distinct, entropy, top_value,
    top_share)``; entropy/top columns NULL for an all-null column.

    Shape (three relational shuffles, no windows, no Python):

    1. explode each row into |cols| ``(column, value)`` pairs — a
       narrow map-side multiply (profiles are one-shot; the ×|cols|
       blow-up buys single-framework uniformity), then ONE
       ``(column, value)`` count shuffle — the only corpus-sized
       exchange, partial-aggregated map-side;
    2. per-column roll-up of the counted distribution (rows =
       Σ per-column distinct values). Entropy folds into this same
       aggregate via ``H = ln(N) − Σ c·ln(c)/N`` — no second pass
       needs the total first;
    3. the mode resolves against the |cols|-row stats broadcast
       (count == max, ties → smallest value — an explicit total rule,
       NOT max_by, whose tie winner is engine-dependent).

    A per-COLUMN window over the counted table would funnel each
    column's whole value distribution through one task (the W1
    low-cardinality-partition defect); the broadcast-back form keeps
    every stage parallel. Reference analog: none (pipeline-hygiene
    surface beside the audit gate above).
    """
    if not cols:
        raise ValueError(
            "column_profile: empty cols mapping — a misbuilt column map "
            "would otherwise read as 'profile ran clean'"
        )
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("column"),
                        expr.cast("string").alias("_v"),
                    )
                    for name, expr in cols.items()
                ]
            )
        ).alias("_p")
    ).select(F.col("_p.column").alias("column"), F.col("_p._v").alias("_v"))
    counted = pairs.groupBy("column", "_v").agg(
        F.count(F.lit(1)).alias("_c")
    )
    # counted feeds BOTH the stats roll-up and the mode branch; without
    # lineage truncation the static plan replicates the corpus-sized
    # explode+count subtree per consumer (3 source scans in the plan
    # audit) and the one-scan claim below holds only if runtime
    # exchange reuse fires. Materialize the distribution ONCE — the
    # triangle_counts lineage discipline; distribution-sized, not
    # corpus-sized (reliable checkpoint() on a real cluster).
    # Evaluated making this lazy (shared persist) — a
    # DataFrame localCheckpoint executes its AQE stages at call time
    # even with eager=False, and the persist form kept runtime work
    # identical (the subtree executes exactly once per action either
    # way) while replicating the subtree in the static plan metrics;
    # the eager checkpoint stays as the honest-static-plan form.
    counted = counted.localCheckpoint(eager=True)
    # single-parse SQL aggregates: same expression trees,
    # ~5x fewer py4j round trips per build
    nn = "CASE WHEN _v IS NOT NULL THEN _c END"
    stats = counted.groupBy("column").agg(
        F.expr("CAST(sum(_c) AS BIGINT) AS n"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN _v IS NULL THEN _c END), 0)"
            " AS BIGINT) AS n_null"
        ),
        F.expr(f"CAST(count({nn}) AS BIGINT) AS n_distinct"),
        F.expr(f"CAST(sum({nn}) AS BIGINT) AS _nn"),
        F.expr(
            f"sum(CAST({nn} AS DOUBLE) * ln(CAST({nn} AS DOUBLE)))"
            " AS _slnc"
        ),
        F.expr(f"max({nn}) AS _maxc"),
    )
    mode = (
        counted.filter("_v IS NOT NULL")
        .join(
            F.broadcast(stats.select("column", "_maxc")),
            ["column"],
        )
        .filter("_c = _maxc")
        .groupBy("column")
        .agg(F.expr("min(_v) AS top_value"))
    )
    return (
        stats.join(F.broadcast(mode), ["column"], "left")
        .selectExpr(
            "column",
            "n",
            "n_null",
            "n_distinct",
            "CASE WHEN _nn > 0 THEN"
            " round(ln(CAST(_nn AS DOUBLE)) - (_slnc / _nn), 6)"
            " END AS entropy",
            "top_value",
            "CASE WHEN _nn > 0 THEN round(_maxc / _nn, 6)"
            " END AS top_share",
        )
    )


def ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift gate between two snapshots,
    per group — the sup-norm ECDF complement to :func:`psi_drift`:
    PSI measures aggregate bin-share movement and needs
    hand-picked edges; KS is edge-free and maximally sensitive to a
    LOCATION shift anywhere in the distribution (a quality-score or
    doc-length distribution sliding sideways moves D long before any
    coarse bin share budges).

    Statistic: D = sup_v |F_ref(v) - F_cur(v)| over the INTEGER value
    grid ``floor(value)`` — binned-KS, the engine-portable form: the
    grid is bounded by the value domain (scale-INdependent), floor is
    exact on doubles in every engine, and the ECDF cumulative sums are
    integer-exact, so the only float ops are one division and one abs
    per grid row (deterministic IEEE, no accumulation-order
    sensitivity). Verdict: ``ROUND(D, 6) > ROUND(1.358 *
    sqrt((n1+n2)/(n1*n2)), 6)`` — the large-sample rejection bound at
    alpha = 0.05, both sides rounded BEFORE comparing so the boolean
    cannot diverge cross-engine.

    Contract: NULL values are excluded (an ECDF is over observed
    values; route NULL-share drift through :func:`psi_drift`'s
    ``'__null__'`` bin); groups with EITHER side empty are dropped
    (no ECDF to compare — deterministic on both engines). NULL GROUP
    KEYS form their own group, exactly as ``groupBy`` treats them: a
    join of cumulative counts to per-group totals on bare ``gcols``
    would silently drop NULL-keyed groups (a null-unsafe equi-join), so
    totals are full-frame windows over the SAME partition keys — no
    join to lose them in, and one shuffle + two broadcasts fewer.

    Scale shape: one (group, grid-value) count shuffle whose output is
    grid-cardinality-sized, then per-group cumulative AND full-frame
    windows over that bounded grid computed in the same exchange
    (PARTITIONED windows — never a global window over row-scaled
    data), and a group-sized final max that reuses the partitioning.
    Two scans (ref + cur), nothing corpus-sized is held anywhere — the
    same 100 TB two-scans-one-tiny-shuffle shape as psi_drift.
    """
    from pyspark.sql import Window

    gcols = list(group_cols)
    v = F.col(value_col)

    def tagged(df: DataFrame, flag: int) -> DataFrame:
        return df.filter(v.isNotNull()).select(
            *[F.col(c) for c in gcols],
            F.floor(v).cast("long").alias("_g"),
            F.lit(flag).alias("_is_ref"),
        )

    counts = (
        tagged(ref, 1)
        .unionByName(tagged(cur, 0))
        .groupBy(*gcols, "_g")
        .agg(
            F.sum("_is_ref").cast("long").alias("_ref_n"),
            F.sum(1 - F.col("_is_ref")).cast("long").alias("_cur_n"),
        )
    )
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("_g").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # full-frame totals over the same partition keys: NULL-safe by
    # construction (a window partition holds NULL keys together), and
    # Spark computes both windows in the one exchange `w` already needs
    w_tot = Window.partitionBy(*gcols)
    cum = counts.select(
        *gcols,
        F.sum("_ref_n").over(w).alias("_cref"),
        F.sum("_cur_n").over(w).alias("_ccur"),
        F.sum("_ref_n").over(w_tot).cast("long").alias("n_ref"),
        F.sum("_cur_n").over(w_tot).cast("long").alias("n_cur"),
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n_ref") + F.col("n_cur"))
        / (F.col("n_ref") * F.col("n_cur"))
    )
    return (
        # drop one-sided groups BEFORE the division (no transient
        # Inf/NaN rows; both engines drop the same groups)
        cum.filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .groupBy(*gcols)
        .agg(
            # totals are constant within a group; MAX carries them
            # through the aggregate without a re-join
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
            F.max(
                F.abs(
                    F.col("_cref").cast("double") / F.col("n_ref")
                    - F.col("_ccur").cast("double") / F.col("n_cur")
                )
            ).alias("_d"),
        )
        .select(
            *gcols,
            "n_ref",
            "n_cur",
            F.round(F.col("_d"), 6).alias("d_stat"),
            F.round(crit, 6).alias("d_crit"),
            (F.round(F.col("_d"), 6) > F.round(crit, 6)).alias("drifted"),
        )
    )
